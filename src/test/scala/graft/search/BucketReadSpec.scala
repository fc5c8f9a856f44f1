package graft.search

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The driver-side bucket routing behind the job-free probes: a probe
  * lists only the dirs the driver computes, so the driver's bucket must
  * be exactly the one the build's Spark expression wrote, and a bucket
  * without a dir must read as a typed empty frame, never an error.
  */
class BucketReadSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(4242L + i)))

  private val keyGen: Gen[String] = Gen.frequency(
    4 -> Gen.asciiStr,
    3 -> Gen.listOf(Gen.oneOf('ä', 'ü', '☂', '日', '本', 'x', ' ', '\u0000'))
      .map(_.mkString),
    1 -> Gen.const(""))

  private val Moduli = Seq(1, 3, 16, 64)

  test("driver bucket ≡ Spark's pmod(hash(cast(k as string)), n) for " +
      "ASCII, non-ASCII and empty strings and for longs") {
    val strs = (samples(keyGen, 200) :+ "").distinct
    val longs = samples(Gen.chooseNum(Long.MinValue, Long.MaxValue), 200) ++
      Seq(0L, -1L, Long.MinValue, Long.MaxValue)
    for (n <- Moduli) {
      val bucket = pmod(hash(col("k").cast("string")), lit(n))
      val sparkStr = strs.toDF("k").select(bucket).collect().map(_.getInt(0)).toSeq
      assert(sparkStr == strs.map(ServingStores.keyBucket(_, n)),
        s"string buckets disagree at modulus $n")
      val sparkLong = longs.toDF("k").select(bucket).collect().map(_.getInt(0)).toSeq
      assert(sparkLong == longs.map(ServingStores.keyBucket(_, n)),
        s"long buckets disagree at modulus $n")
    }
  }

  test("a probe whose bucket has no dir returns a typed empty frame " +
      "with the store's columns") {
    val df = Seq((1L, Seq("jobs")), (2L, Seq("perf"))).toDF("id", "tags")
    val dest = Files.createTempDirectory("graft-bucket-nodir").toString
    ServingStores.buildPostings(df, col("tags"), dest, buckets = 64)
    val absent = Iterator.from(0).map(i => s"key-$i")
      .find(k => !Files.isDirectory(
        Paths.get(dest, s"__bucket=${ServingStores.keyBucket(k, 64)}"))).get
    val probed = ServingStores.postingProbe(spark, dest, absent)
    assert(probed.schema == ServingStores.postingProbe(spark, dest, "jobs").schema)
    assert(probed.columns.toSeq == Seq("id", "tags"))
    assert(probed.collect().isEmpty)

    val facts = Seq((7L, 10), (8L, 20)).toDF("fk", "v")
    val tl = Files.createTempDirectory("graft-bucket-nodir-tl").toString
    ServingStores.buildTimeline(facts, "fk", tl, buckets = 64)
    val noDir = Iterator.from(100).map(_.toLong)
      .find(k => !Files.isDirectory(
        Paths.get(tl, s"__bucket=${ServingStores.keyBucket(k, 64)}"))).get
    val none = ServingStores.timelineProbe(spark, tl, "fk", noDir)
    assert(none.columns.toSeq == Seq("fk", "v"))
    assert(none.collect().isEmpty)
    StoreAdmin.truncate(dest)
    StoreAdmin.truncate(tl)
  }

  test("a BM25 query whose term buckets have no dir returns an empty top-k") {
    val docs = Seq((1L, "spark query"), (2L, "hiring engineers")).toDF("doc_id", "text")
    val dest = Files.createTempDirectory("graft-bucket-nodir-bm25").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    val buckets = BM25Index.termBuckets(dest)
    val term = Iterator.from(0).map(i => s"absent$i")
      .find(t => !Files.isDirectory(
        Paths.get(dest, "postings", s"tb=${BM25Index.termBucket(t, buckets)}"))).get
    assert(BM25Index.topK(spark, dest, Seq(term), 5).collect().isEmpty)
    assert(BM25Index.topKMerged(spark, dest, Seq(term), 5).collect().isEmpty)
    // every relation carries the schema its reads go through
    Seq("postings", "termstats", "corpus").foreach(rel =>
      assert(Files.exists(Paths.get(dest, rel, "_schema.json")), rel))
  }

  test("an index relation without _schema.json fails loudly, naming the " +
      "layout, instead of inferring") {
    val docs = Seq((1L, "spark query")).toDF("doc_id", "text")
    val dest = Files.createTempDirectory("graft-bucket-noschema").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    Files.delete(Paths.get(dest, "corpus", "_schema.json"))
    val e = intercept[IllegalStateException](
      BM25Index.topK(spark, dest, Seq("spark"), 5))
    assert(e.getMessage.contains(s"$dest/corpus") && e.getMessage.contains("rebuild"),
      e.getMessage)
  }
}
