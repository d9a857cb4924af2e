package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{InterleavedDocs, TripleSink}

/** S5/S7: bucketed partitioned write, manifest lineage, checkpoint-resume
  * (BASELINE.json:14; SURVEY.md §5.1 resume test). */
class TripleSinkSpec extends SparkTestBase {

  private def freshDir(): String =
    Files.createTempDirectory("graft-sink").toString

  private lazy val triples = {
    val docs = InterleavedDocs.synthesize(spark, 200L, seed = 21L)
    Pipeline.triples(spark, docs).cache()
  }

  test("write partitions by subj_bucket and round-trips content") {
    val dir = freshDir()
    val lineage = TripleSink.writeTriples(spark, triples, dir, buckets = 8)
    assert(lineage.map(_.bucket).sorted == (0 until 8))
    assert(lineage.map(_.rows).sum == triples.count())
    // physical layout: one dir per bucket
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("subj_bucket=")).sorted
    assert(dirs.length > 0 && dirs.forall(_.matches("subj_bucket=\\d+")))
    val back = TripleSink.readTriples(spark, dir)
      .select("subj", "pred", "obj", "obj_type")
    assert(back.exceptAll(triples).isEmpty &&
      triples.exceptAll(back).isEmpty)
  }

  test("resume after partial write yields byte-identical final set") {
    val full = freshDir(); val resumed = freshDir()
    TripleSink.writeTriples(spark, triples, full, buckets = 8)

    // simulate a run that died after 3 buckets
    val l1 = TripleSink.writeTriples(spark, triples, resumed, buckets = 8,
      onlyBuckets = Some(Set(0, 1, 2)))
    assert(l1.map(_.bucket).toSet == Set(0, 1, 2))
    assert(TripleSink.readManifest(resumed).map(_.bucket).toSet == Set(0, 1, 2))

    // resume: only remaining buckets are written, manifest completes
    val l2 = TripleSink.writeTriples(spark, triples, resumed, buckets = 8)
    assert(l2.map(_.bucket).toSet == (3 until 8).toSet)

    val a = TripleSink.readTriples(spark, full)
    val b = TripleSink.readTriples(spark, resumed)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // per-bucket lineage identical regardless of resume boundary
    assert(TripleSink.readManifest(full).sortBy(_.bucket) ==
      TripleSink.readManifest(resumed).sortBy(_.bucket))
  }

  test("resume on a complete table is a no-op") {
    val dir = freshDir()
    TripleSink.writeTriples(spark, triples, dir, buckets = 4)
    assert(TripleSink.writeTriples(spark, triples, dir, buckets = 4).isEmpty)
  }

  test("every bucket file is sorted by (subj, pred, obj) and matches its manifest row") {
    val dir = freshDir()
    TripleSink.writeTriples(spark, triples, dir, buckets = 8)
    // Spark orders strings by their UTF-8 bytes, unsigned
    val utf8 = Ordering.Iterable[Int].on[String](
      _.getBytes("UTF-8").toSeq.map(_ & 0xff))
    val spo = Ordering.Tuple3(utf8, utf8, utf8)
    val files = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("subj_bucket="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty)
    for (f <- files) {
      // one small file reads back as one split, in file order
      val rows = spark.read.parquet(f.getPath).select("subj", "pred", "obj")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq
      assert(rows == rows.sorted(spo), s"${f.getPath} is not in (subj, pred, obj) order")
    }
    val onDisk = TripleSink.readTriples(spark, dir).groupBy("subj_bucket")
      .agg(count(lit(1)), expr("bit_xor(xxhash64(subj, pred, obj))"))
      .collect().map(r => TripleSink.BucketLineage(r.getInt(0), r.getLong(1),
        r.getLong(2))).toSet
    assert(TripleSink.readManifest(dir).filter(_.rows > 0).toSet == onDisk)
  }

  test("empty input completes every bucket with zero rows") {
    val dir = freshDir()
    // empty at run time, not provably empty at plan time, like an
    // all-duplicate stream batch
    val none = triples.filter(col("subj") === "no-such-subject")
    val zeros = (0 until 8).map(TripleSink.BucketLineage(_, 0L, 0L))
    assert(TripleSink.writeTriples(spark, none, dir, buckets = 8) == zeros)
    assert(TripleSink.readManifest(dir).sortBy(_.bucket) == zeros)
    assert(TripleSink.writeTriples(spark, none, dir, buckets = 8).isEmpty)
  }

  test("N-Triples export is sorted and well-formed") {
    val lines = TripleSink.toNTriples(triples).collect().map(_.getString(0))
    assert(lines.toSeq == lines.toSeq.sorted)
    assert(lines.forall(l => l.startsWith("<ex:") && l.endsWith(" .")))
    assert(lines.exists(_.contains("\"")), "label literals present")
  }

  test("N-Triples round-trip: parse(export(T)) == T incl. nasty literals") {
    import spark.implicits._
    val nasty = Seq(
      ("ex:doc/1", "ex:mentions", "ex:ent/A", "iri"),
      ("ex:doc/1", "ex:label", "plain text", "literal"),
      ("ex:doc/1", "ex:label", "quote \" inside", "literal"),
      ("ex:doc/1", "ex:label", "back \\ slash", "literal"),
      ("ex:doc/1", "ex:label", "both \\\" mix \\\\ end", "literal"),
      ("ex:doc/1", "ex:label", "ends with dot .", "literal"),
      ("ex:doc/1", "ex:label", "angle > bracket", "literal"))
      .toDF("subj", "pred", "obj", "obj_type")
    for (t <- Seq(nasty, triples)) {
      val back = TripleSink.parseNTriples(TripleSink.toNTriples(t))
      assert(back.exceptAll(t).isEmpty && t.exceptAll(back).isEmpty,
        "round-trip must be the identity on the triple set")
    }
    // malformed lines are dropped, not thrown
    val junk = Seq("not a triple", "<a> <b> incomplete").toDF("line")
    assert(TripleSink.parseNTriples(junk).count() == 0)
  }
}
