package graft.search

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.util.{BucketedParquet, StoreFs, StoreLock}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3HashFunction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Persisted request-time layouts for the two non-keyword REST routes —
  * the serving-store treatment [[BM25Index]] gives the keyword route
  * (round-10 verdict item 7), applied to exact-match and FK-expansion
  * queries:
  *
  *  - POSTING store ([[buildPostings]]/[[postingProbe]]): one row per
  *    (key, source row) from an exploded key array — the hashtag
  *    route's `tweetHashtags:'<tag>'` shape. Laid out partitioned by
  *    `pmod(hash(key), buckets)` and sorted by key within, so a probe
  *    statically prunes to ONE bucket directory (the partition filter
  *    folds to a literal) and min/max row-group stats cut inside it —
  *    request cost is the matching postings, never an `array_contains`
  *    scan of the corpus.
  *  - TIMELINE store ([[buildTimeline]]/[[timelineProbe]]): the fact
  *    table partitioned by a foreign-key bucket and sorted by
  *    (fk, order cols) within — the user-timeline route's FK expansion
  *    reads one bucket, one key's row span.
  *
  * Both hash `CAST(key AS STRING)` on BOTH build and probe sides so the
  * bucket function is insensitive to the key column's physical type.
  * The bucket count is written into the store (`_buckets.txt` — the
  * underscore keeps it out of the parquet file index) — probes can
  * never disagree with the layout. The row schema is persisted too
  * (`_schema.json`), so a store built from an all-empty-keys source
  * (zero parquet files) still probes to a typed empty frame instead of
  * a schema-inference error.
  *
  * A probe computes its key's bucket on the driver ([[keyBucket]], the
  * same Murmur3 as the build's `hash`) and reads only that bucket's dir
  * through the persisted schema, so building the probe's plan runs no
  * Spark job: no schema inference, and no listing of the store's other
  * bucket dirs (64 by default — past Spark's threshold of 32, listing
  * them all is a job with a task per dir). A key whose bucket has no dir
  * probes to a typed empty frame. A store without `_schema.json` fails
  * loudly and is rebuilt.
  *
  * Maintenance lifecycle (the reference's indexer is a CONTINUOUS
  * keyed-upsert loop — SolrIndexer's addBean+commit per batch — with
  * Solr compacting segments beneath it; this is that full cycle):
  * [[appendPostings]]/[[appendTimeline]] add a batch's rows into the
  * existing bucket dirs at batch cost; [[upsertPostings]]/
  * [[upsertTimeline]] REPLACE existing row ids (the reference's
  * `addBean` overwrite semantics — `SolrIndexer.java:47-59`) via
  * generation-numbered tombstones (below); [[compactPostings]]/
  * [[compactTimeline]] fold the accumulated small files back into one
  * read-optimized generation (bounded file count, restored row-group
  * pruning, dead rows physically purged); [[rebucketPostings]]/
  * [[rebucketTimeline]] change the bucket count in place when growth
  * makes buckets hot — the one remedy short of a full rebuild.
  *
  * == Concurrency contract (the Lucene IndexWriter-lock semantics) ==
  *
  * Compaction is SEGMENT-MODEL: it snapshots the explicit list of data
  * files per bucket, folds exactly those files into one replacement, and
  * deletes exactly those files — a concurrent append/upsert's files land
  * after the snapshot and survive byte-untouched (spec-asserted with an
  * append interleaved into the swap window). Rebucketing is the one
  * rewrite a writer can never safely race (the bucket function itself
  * changes mid-flight), so it runs under the store's
  * [[graft.util.StoreLock]] and writers fail LOUDLY: appends/upserts
  * check the lock at entry and re-check after their write — a collision
  * is an IllegalStateException telling the caller to retry, never silent
  * loss. All maintenance ops hold the lock, serializing maintenance
  * against maintenance; a crashed holder's lock is stolen when stale.
  * Writers are additionally single-writer per store AMONG THEMSELVES
  * (the generation counter below is read-inc-write) — the contract the
  * live ingest loop already has, stated here like
  * [[StoreAdmin.gcOrphans]]'s.
  *
  * == Update/delete semantics (tombstones) ==
  *
  * Every row carries `__gen`, the store generation that wrote it (build
  * = 0; each append/upsert bumps the persisted `_gen.txt` counter). An
  * upsert appends the batch's ids to a small `_tombstones/` side table
  * as `(__id, __gen)` BEFORE appending the batch's new rows at that same
  * generation — a tombstone kills every row of that id with a STRICTLY
  * LOWER generation, so the upsert's own rows survive it, a later
  * upsert's tombstone kills them, and a crash between the two writes
  * (or a retried upsert) converges instead of serving two versions.
  * Probes anti-join the broadcast tombstone set when one exists (zero
  * cost for never-upserted stores); full compaction and rebucketing
  * apply the filter physically and clear exactly the tombstone files
  * they folded — Lucene's delete+add with tombstones folded at merge.
  * [[deleteIds]] is the tombstone-only half (Solr's deleteById).
  *
  * All rewrites land in a sibling tmp first with `_buckets.txt` as the
  * swap sentinel (stamp deleted first, restored last — the
  * [[BM25Index.compact]] crash contract: a crash mid-swap leaves a
  * store that fails loudly and rebuilds, never serves a mixed
  * generation). At 100 TB these are the layouts a serving cluster
  * holds per collection; the stamp-guarded lifecycle (build-once,
  * [[StoreAdmin]]-truncatable) matches the engine's other stores.
  */
object ServingStores {

  val DefaultBuckets = 64

  private val TombstoneDir = "_tombstones"
  private val tombSchema = StructType(Seq(
    StructField("__id", StringType), StructField("__gen", LongType)))

  /** Test seam: runs after a fold's tmp generation is fully materialized
    * and before the swap — the widest window in which a concurrent
    * append's files must survive the segment-model deletion.
    */
  private[search] var testHookBeforeSwap: String => Unit = _ => ()

  private def bucketOf(key: Column, buckets: Int): Column =
    pmod(hash(key.cast("string")), lit(buckets))

  /** Bucket-partitioned layout write. The sort leads with `__bucket`:
    * `repartition(col)` can co-locate several bucket values in one task
    * and the dynamic-`partitionBy` writer then requires its own sort by
    * the partition column — which is NOT guaranteed stable, so a
    * key-only `sortWithinPartitions` could silently lose the documented
    * within-bucket key order (and the min/max row-group pruning it
    * enables). Leading with `__bucket` satisfies the writer's required
    * ordering outright; no re-sort is inserted.
    */
  private def writeLayout(rows: DataFrame, sortCols: Seq[Column],
                          dest: String, mode: String): Unit =
    rows.repartition(col("__bucket"))
      .sortWithinPartitions(col("__bucket") +: sortCols: _*)
      .write.mode(mode).partitionBy("__bucket").parquet(dest)

  private def postingRows(df: DataFrame, keysCol: Column, buckets: Int,
                          dropCols: Seq[String], gen: Long): DataFrame =
    // array_distinct: a key repeated within one row must post the row
    // ONCE — the probe replays `array_contains` semantics, not explode's
    df.withColumn("__key", explode(array_distinct(keysCol)))
      .drop(dropCols: _*)
      .withColumn("__gen", lit(gen))
      .withColumn("__bucket", bucketOf(col("__key"), buckets))

  /** Explode `keysCol` (an array column) into a posting table carrying
    * every source column, bucket-partitioned and key-sorted.
    */
  def buildPostings(df: DataFrame, keysCol: Column, dest: String,
                    buckets: Int = DefaultBuckets,
                    dropCols: Seq[String] = Nil): Unit = {
    val rows = postingRows(df, keysCol, buckets, dropCols, gen = 0L)
    writeLayout(rows, Seq(col("__key")), dest, "overwrite")
    writeMeta(dest, buckets, rows.schema)
  }

  /** Append a NEW batch's postings into an existing store — the
    * [[BM25Index.appendSegment]] lifecycle for the exact-match routes:
    * the batch is exploded/bucketed with the layout's OWN bucket count
    * (read back from `_buckets.txt`, so an appender can never split the
    * key space differently) and written `mode(append)` into the same
    * bucket directories. Probes need no change — they read every file
    * in the key's bucket, base and appended alike. Per-batch cost is the
    * batch explode + one write; the store is never rewritten. When small
    * appended files accumulate, [[compactPostings]] folds them back into
    * one read-optimized generation — the BM25Index compaction contract.
    * Safe to race a compaction (segment model); fails loudly against a
    * rebucket (entry + post-write lock checks).
    */
  def appendPostings(batch: DataFrame, keysCol: Column, dest: String,
                     dropCols: Seq[String] = Nil): Unit = {
    assertWritable(dest)
    val buckets = readBuckets(dest)
    writeLayout(postingRows(batch, keysCol, buckets, dropCols, nextGen(dest)),
      Seq(col("__key")), dest, "append")
    assertNoRebucketRace(dest)
  }

  /** Id-keyed OVERWRITE through the persisted store — the reference
    * indexer's `addBean`-with-existing-id semantics
    * (`SolrIndexer.java:47-59`: a re-posted id replaces the stored doc).
    * Tombstones the batch's ids at a fresh generation, THEN appends the
    * batch's new postings at that same generation — tombstone-first so a
    * crash between the writes leaves the doc absent (a retried upsert
    * converges at a higher generation) rather than serving two versions.
    * `idCol` is the row-identity column (persisted as `_idcol.txt`; all
    * upserts of one store must agree on it).
    */
  def upsertPostings(batch: DataFrame, idCol: String, keysCol: Column,
                     dest: String, dropCols: Seq[String] = Nil): Unit = {
    assertWritable(dest)
    val buckets = readBuckets(dest)
    val gen = nextGen(dest)
    writeIdCol(dest, idCol)
    writeTombstones(batch.select(col(idCol)), dest, gen)
    writeLayout(postingRows(batch, keysCol, buckets, dropCols, gen),
      Seq(col("__key")), dest, "append")
    assertNoRebucketRace(dest)
  }

  /** Tombstone-only delete (Solr's deleteById): every stored row of the
    * given ids — at any generation so far — stops being served on the
    * next probe and is physically purged at the next full compaction.
    */
  def deleteIds(spark: SparkSession, dest: String, idCol: String,
                ids: Seq[Any]): Unit = {
    assertWritable(dest)
    val gen = nextGen(dest)
    writeIdCol(dest, idCol)
    import spark.implicits._
    writeTombstones(ids.map(String.valueOf).toDF("__id"), dest, gen)
    assertNoRebucketRace(dest)
  }

  private def writeTombstones(ids: DataFrame, dest: String, gen: Long): Unit =
    ids.select(ids.columns.head)
      .select(col(ids.columns.head).cast("string").as("__id"))
      .distinct()
      .withColumn("__gen", lit(gen))
      .coalesce(1)
      .write.mode("append").parquet(s"$dest/$TombstoneDir")

  /** Fold accumulated small files back into one read-optimized
    * generation per bucket and physically purge tombstoned rows: every
    * nonempty bucket is folded when tombstones exist (the purge must
    * visit every file), otherwise only buckets fragmented by appends
    * (≥2 files). File count drops back to O(buckets), within-bucket key
    * order (and its min/max row-group pruning) is restored, and the
    * tombstone files this pass applied are cleared. Segment-model: a
    * concurrent append survives (see the object scaladoc). Probe results
    * are identical before/after (spec-asserted against a fresh rebuild).
    */
  def compactPostings(spark: SparkSession, dest: String): Unit =
    fold(spark, dest, Seq(col("__key")),
      minFiles = if (hasTombstones(dest)) 1 else 2)

  /** [[compactPostings]] scoped to the buckets that NEED it — the
    * 100-TB maintenance shape: a full-store rewrite is O(store) per
    * cycle, but appends only fragment the buckets they touched, and
    * bucket dirs are independent, so compaction can pay O(hot buckets)
    * instead. Buckets with ≥ `minFiles` data files are each folded to
    * one key-sorted file (tombstoned rows purged from those buckets);
    * cold buckets' files are left byte-untouched, so tombstones are NOT
    * cleared unless this pass happened to fold every nonempty bucket.
    * Crash contract: all tmps are materialized FIRST, then the stamp and
    * the `_buckets.txt` sentinel come down for the per-bucket swaps and
    * are restored last — probes fail loudly DURING the short swap window
    * (not the long tmp write); a crash anywhere mid-swap leaves a loud
    * store a build-if-stale caller rebuilds. Returns the compacted
    * bucket ids.
    */
  def compactHotBuckets(spark: SparkSession, dest: String,
                        minFiles: Int = 4): Seq[Int] =
    fold(spark, dest, Seq(col("__key")), minFiles)

  /** [[compactHotBuckets]] for the timeline layout — the caller
    * restates the (fk, sort) contract like [[compactTimeline]].
    */
  def compactHotTimeline(spark: SparkSession, dest: String, fkCol: String,
                         sortCols: Seq[Column] = Nil,
                         minFiles: Int = 4): Seq[Int] =
    fold(spark, dest, col(fkCol) +: sortCols, minFiles)

  /** Change the bucket count of an existing posting store IN PLACE —
    * the growth remedy when a fixed build-time bucket count leaves hot
    * buckets at 100 TB: every live row's `__bucket` is recomputed from
    * its `__key` under the new count (tombstoned rows purged — this IS
    * a full rewrite) and the store is atomically rewritten,
    * `_buckets.txt` updated last so probes can never pair the new
    * layout with the old count. Runs under the store lock; appenders
    * fail loudly for its duration and read the new count on their next
    * batch. Probe ≡ `array_contains` across any rebucket
    * (property-spec-asserted for 1 → 3 → 64).
    */
  def rebucketPostings(spark: SparkSession, dest: String,
                       newBuckets: Int): Unit =
    rewriteStore(spark, dest, newBuckets, Seq(col("__key")),
      reBucket = col("__key"))

  /** All source rows posted under `key` — a one-bucket pruned scan (plus
    * a broadcast tombstone anti-join when the store has live deletes).
    */
  def postingProbe(spark: SparkSession, dest: String, key: String): DataFrame = {
    val b = keyBucket(key, readBuckets(dest))
    val rows = BucketedParquet.readParts(spark, dest, "__bucket", Seq(b))
      .filter(col("__bucket") === b && col("__key") === key)
    dropDead(spark, dest, rows).drop("__key", "__bucket", "__gen")
  }

  /** Fact rows partitioned by `pmod(hash(fk), buckets)`, sorted by
    * (fk, sortCols) within each bucket file.
    */
  def buildTimeline(df: DataFrame, fkCol: String, dest: String,
                    sortCols: Seq[Column] = Nil,
                    buckets: Int = DefaultBuckets): Unit = {
    val rows = df.withColumn("__gen", lit(0L))
      .withColumn("__bucket", bucketOf(col(fkCol), buckets))
    writeLayout(rows, col(fkCol) +: sortCols, dest, "overwrite")
    writeMeta(dest, buckets, rows.schema)
  }

  /** [[appendPostings]] for the FK-expansion layout: a new fact batch
    * bucketed with the store's own count and appended into the existing
    * bucket dirs — the continuous-ingest half the timeline route was
    * missing. Same contract: probes read base + appended files alike;
    * compact via [[compactTimeline]] when small files accumulate.
    */
  def appendTimeline(batch: DataFrame, fkCol: String, dest: String,
                     sortCols: Seq[Column] = Nil): Unit = {
    assertWritable(dest)
    val buckets = readBuckets(dest)
    writeLayout(batch.withColumn("__gen", lit(nextGen(dest)))
        .withColumn("__bucket", bucketOf(col(fkCol), buckets)),
      col(fkCol) +: sortCols, dest, "append")
    assertNoRebucketRace(dest)
  }

  /** [[upsertPostings]] for the timeline layout: `idCol` identifies the
    * FACT row (e.g. the order/tweet id), not the FK — an edited fact
    * replaces its predecessor inside whatever FK bucket it hashes to.
    */
  def upsertTimeline(batch: DataFrame, idCol: String, fkCol: String,
                     dest: String, sortCols: Seq[Column] = Nil): Unit = {
    assertWritable(dest)
    val buckets = readBuckets(dest)
    val gen = nextGen(dest)
    writeIdCol(dest, idCol)
    writeTombstones(batch.select(col(idCol)), dest, gen)
    writeLayout(batch.withColumn("__gen", lit(gen))
        .withColumn("__bucket", bucketOf(col(fkCol), buckets)),
      col(fkCol) +: sortCols, dest, "append")
    assertNoRebucketRace(dest)
  }

  /** [[compactPostings]] for the timeline layout — the caller restates
    * the layout's (fk, sort) contract because parquet does not persist
    * it; the fk/sort columns must match the build's.
    */
  def compactTimeline(spark: SparkSession, dest: String, fkCol: String,
                      sortCols: Seq[Column] = Nil): Unit =
    fold(spark, dest, col(fkCol) +: sortCols,
      minFiles = if (hasTombstones(dest)) 1 else 2)

  /** [[rebucketPostings]] for the timeline layout. */
  def rebucketTimeline(spark: SparkSession, dest: String, fkCol: String,
                       newBuckets: Int, sortCols: Seq[Column] = Nil): Unit =
    rewriteStore(spark, dest, newBuckets, col(fkCol) +: sortCols,
      reBucket = col(fkCol))

  /** All fact rows for one FK value — a one-bucket pruned scan plus a
    * row-group-prunable equality on the sorted fk column.
    */
  def timelineProbe(spark: SparkSession, dest: String, fkCol: String,
                    value: Any): DataFrame =
    timelineProbeMany(spark, dest, fkCol, Seq(value))

  /** [[timelineProbe]] for a SET of FK values (an entity resolving to
    * several keys — shards, aliases, merged accounts): a disjunction of
    * per-key (bucket literal, fk literal) conjuncts, so the scan prunes
    * to exactly the keys' bucket directories — request cost is the
    * matching spans, independent of table size. An EMPTY key set (the
    * entity resolved to nothing on this corpus) returns a typed empty
    * frame — served and ad-hoc routes degrade identically.
    */
  def timelineProbeMany(spark: SparkSession, dest: String, fkCol: String,
                        values: Seq[Any]): DataFrame = {
    if (values.isEmpty)
      BucketedParquet.readParts(spark, dest, "__bucket", Nil)
        .drop("__bucket", "__gen")
    else {
      val buckets = readBuckets(dest)
      val keyed = values.map(v => v -> keyBucket(v, buckets))
      val pred = keyed
        .map { case (v, b) => col("__bucket") === b && col(fkCol) === lit(v) }
        .reduce(_ || _)
      dropDead(spark, dest,
          BucketedParquet.readParts(spark, dest, "__bucket", keyed.map(_._2))
            .filter(pred))
        .drop("__bucket", "__gen")
    }
  }

  def defaultDir(sfDir: String): String = {
    graft.util.StoreDirs.resolve("serving-store-v2", sfDir)
  }

  /** Build-if-stale: word-posting store over the documents table (the
    * q_hashtag_served layout — `doc_id/source/n_chars` posted under each
    * whitespace token, FIXTURES.md's stand-in for `tweetHashtags`).
    */
  def ensureDocPostings(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/doc_postings"
    val stamp = graft.util.Stamp.sourceStamp(sfDir)
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      buildPostings(
        graft.util.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("source"), col("n_chars"),
            split(col("text"), " ").as("__words")),
        col("__words"), dest, dropCols = Seq("__words"))
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** Build-if-stale: orders bucketed by o_custkey, date-sorted within —
    * the q_user_timeline_served FK-expansion layout.
    */
  def ensureOrdersTimeline(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/orders_by_cust"
    val stamp = graft.util.Stamp.sourceStamp(sfDir, "orders.parquet")
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      buildTimeline(graft.util.Tables.orders(spark, sfDir), "o_custkey",
        dest, sortCols = Seq(col("o_orderdate").desc))
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** [[ensureDocPostings]]'s INCREMENTAL variant — the maintenance
    * lifecycle under the driver hash gate (the
    * [[BM25Index.ensureBuiltIncremental]] pattern): 80% of the corpus
    * (doc_id % 5 ≠ 0) is the base build, the rest arrives as an appended
    * batch, then the store compacts — and `q_hashtag_incr` probes it
    * with `q_hashtag_served`'s oracle VERBATIM, so append+compact ≡
    * one-shot is checked by the driver's hash compare, not just a spec.
    * A rebuild wipes dest first so a stale generation can never linger.
    */
  def ensureDocPostingsIncr(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/doc_postings_incr"
    val stamp = graft.util.Stamp.sourceStamp(sfDir)
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      deleteRecursively(Paths.get(dest))
      def docs = graft.util.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          split(col("text"), " ").as("__words"))
      // deliberately built UNDER-bucketed, then rebucketed to the default
      // after the append+compact cycle — every lifecycle op (append,
      // selective hot-bucket compact, full-rewrite rebucket) sits in
      // front of the driver's hash compare. minFiles=2 makes every
      // appended-into bucket hot; the full-compact flavor is covered by
      // the rebucket (same rewrite) and the timeline chain.
      buildPostings(docs.filter(col("doc_id") % 5 =!= 0), col("__words"),
        dest, buckets = 16, dropCols = Seq("__words"))
      appendPostings(docs.filter(col("doc_id") % 5 === 0), col("__words"),
        dest, dropCols = Seq("__words"))
      compactHotBuckets(spark, dest, minFiles = 2)
      rebucketPostings(spark, dest, DefaultBuckets)
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** [[ensureOrdersTimeline]]'s incremental variant — same contract as
    * [[ensureDocPostingsIncr]] for the FK layout (`q_user_timeline_incr`
    * shares `q_user_timeline_served`'s oracle verbatim).
    */
  def ensureOrdersTimelineIncr(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/orders_by_cust_incr"
    val stamp = graft.util.Stamp.sourceStamp(sfDir, "orders.parquet")
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      deleteRecursively(Paths.get(dest))
      def orders = graft.util.Tables.orders(spark, sfDir)
      val sorts = Seq(col("o_orderdate").desc)
      buildTimeline(orders.filter(col("o_orderkey") % 5 =!= 0), "o_custkey",
        dest, sortCols = sorts)
      appendTimeline(orders.filter(col("o_orderkey") % 5 === 0), "o_custkey",
        dest, sortCols = sorts)
      // the fold arrives via the one-call MAINTENANCE SWEEP, not a direct
      // compact call — so the driver's hash gate exercises the sweep's
      // policy decisions (hot-bucket selection here) every round
      graft.search.StoreAdmin.maintain(spark, sfDir, minFiles = 2)
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** The UPSERT lifecycle twin under the driver hash gate
    * (`q_hashtag_upsert`): the store is built from the ORIGINAL corpus,
    * then every doc_id % 7 == 0 doc arrives EDITED under its SAME id —
    * half lose the probed token, half gain it, and all change a served
    * column (n_chars + 1000000, so one stale row version anywhere is a
    * hash mismatch) — then the store fully compacts (tombstones folded
    * physically). The oracle queries the edited corpus directly: upsert
    * + compact ≡ rebuild-from-updated-source, checked by the driver.
    */
  def ensureDocPostingsUpsert(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/doc_postings_upsert"
    val stamp = graft.util.Stamp.sourceStamp(sfDir)
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      deleteRecursively(Paths.get(dest))
      val docs = graft.util.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      buildPostings(
        docs.withColumn("__words", split(col("text"), " ")).drop("text"),
        col("__words"), dest, dropCols = Seq("__words"))
      val edited = editedDocs(docs).filter(col("doc_id") % 7 === 0)
      upsertPostings(
        edited.withColumn("__words", split(col("text"), " ")).drop("text"),
        "doc_id", col("__words"), dest, dropCols = Seq("__words"))
      compactPostings(spark, dest)
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** The deterministic "edit" both the upsert twin and its oracle apply:
    * doc_id % 14 == 0 rewrites 'spark' away (the doc must VANISH from
    * the probe — its old posting is the delete half), % 14 == 7 appends
    * ' spark' (the doc must APPEAR — the add half), and every edited doc
    * shifts n_chars by +1000000 (any stale served version hash-fails).
    */
  private[search] def editedDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
        when(col("doc_id") % 14 === 0,
          regexp_replace(col("text"), "spark", "flink"))
          .when(col("doc_id") % 14 === 7, concat(col("text"), lit(" spark")))
          .otherwise(col("text")))
      .withColumn("n_chars",
        when(col("doc_id") % 7 === 0, col("n_chars") + 1000000)
          .otherwise(col("n_chars")))

  /** [[ensureDocPostingsUpsert]] for the FK layout
    * (`q_user_timeline_upsert`): every o_orderkey % 7 == 0 order is
    * re-posted under its same key with o_totalprice + 1000000, then the
    * store compacts — the probe must serve exactly the edited orders.
    */
  def ensureOrdersTimelineUpsert(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/orders_by_cust_upsert"
    val stamp = graft.util.Stamp.sourceStamp(sfDir, "orders.parquet")
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      deleteRecursively(Paths.get(dest))
      val orders = graft.util.Tables.orders(spark, sfDir)
      val sorts = Seq(col("o_orderdate").desc)
      buildTimeline(orders, "o_custkey", dest, sortCols = sorts)
      upsertTimeline(
        orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000000),
        "o_orderkey", "o_custkey", dest, sortCols = sorts)
      // via the sweep (tombstones present → it runs the FULL purge fold)
      graft.search.StoreAdmin.maintain(spark, sfDir, minFiles = 2)
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** Parquet data files currently in the store (bucket dirs only — the
    * tombstone side table is maintenance metadata, not servable data).
    */
  def dataFileCount(dest: String): Int = {
    val root = Paths.get(dest)
    if (!Files.isDirectory(root)) 0
    else {
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("__bucket="))
        .map(p => parquetFiles(p).size)
        .sum
      finally s.close()
    }
  }

  /** True iff the store has tombstones a probe still needs to apply. */
  def hasTombstones(dest: String): Boolean = tombstoneFiles(dest).nonEmpty

  /** Atomic full rewrite for REBUCKETING (`reBucket` = the key column
    * whose hash re-derives `__bucket` under `newBuckets`) — the one
    * rewrite that must exclude writers, so it runs under the store lock.
    * Tombstoned rows are purged and the tombstone table cleared (a full
    * rewrite visits every row). The rewrite lands in a sibling tmp dir
    * first; then the staleness stamp is the FIRST thing deleted and the
    * LAST thing restored — the [[graft.util.AtomicRewrite]] invariant.
    * That ordering is what makes every crash window recoverable: a crash
    * during the tmp write leaves the old store untouched (plus an orphan
    * tmp for [[StoreAdmin.gcOrphans]]); a crash after the stamp delete
    * leaves a store `Stamp.isFresh` rejects, so the build-if-stale
    * callers REBUILD — whether probes still serve the old generation
    * (sentinel intact) or fail loudly (sentinel gone). The inverted
    * order (stamp restored before `_buckets.txt` is written, or the
    * sentinel deleted while the stamp survives) would leave a
    * fresh-stamped store with no bucket sentinel: ensure* skips it and
    * every probe crashes, forever. The stamp's VALUE survives a
    * completed rewrite (compaction does not change what source the store
    * was built from), and so does the generation counter — surviving
    * rows keep their `__gen`, and future tombstones must outrank them.
    */
  private def rewriteStore(spark: SparkSession, dest: String,
                           newBuckets: Int, sortCols: Seq[Column],
                           reBucket: Column): Unit =
    StoreLock.withLock(dest, "rebucket") {
      val rows = dropDead(spark, dest, BucketedParquet.readAll(spark, dest))
        .drop("__bucket")
        .withColumn("__bucket", bucketOf(reBucket, newBuckets))
      val stampFile = Paths.get(dest, "source_stamp.txt")
      val stamp = if (StoreFs.exists(stampFile))
                    Some(StoreFs.readString(stampFile))
                  else None
      val tmp = dest.stripSuffix("/") + "-rewrite-tmp"
      writeLayout(rows, sortCols, tmp, "overwrite")
      val schema = rows.schema
      testHookBeforeSwap(dest)
      StoreFs.deleteIfExists(stampFile)
      StoreFs.deleteIfExists(Paths.get(dest, "_buckets.txt"))
      // wipe the old generation's CONTENT but keep the maintenance lock
      // (deleting it mid-swap would void the writers' entry AND
      // post-write race checks — a batch landing here would be silently
      // destroyed with no one throwing) and the generation counter +
      // identity column (a fresh upsert racing the counter's restore
      // would mint a tombstone that never outranks the surviving rows).
      // The sentinel is already down, so anything that slips past the
      // lock check still fails loudly at readBuckets.
      val keep = Set(StoreLock.LockFile, "_gen.txt", "_idcol.txt")
      listDir(Paths.get(dest))
        .filterNot(p => keep.contains(p.getFileName.toString))
        .foreach(deleteRecursively)
      listDir(Paths.get(tmp)).foreach(p =>
        StoreFs.move(p, Paths.get(dest).resolve(p.getFileName)))
      StoreFs.deleteIfExists(Paths.get(tmp))
      writeMeta(dest, newBuckets, schema)
      stamp.foreach(StoreFs.writeString(stampFile, _))
    }

  /** Segment-model selective fold shared by the two layouts and both
    * compaction flavors. SNAPSHOT: the explicit parquet file list of
    * every bucket plus the tombstone file list. FOLD: every bucket whose
    * snapshot holds ≥ `minFiles` files is read through the persisted row
    * schema (minus the partition column, which the files do not carry),
    * filtered against the tombstone SNAPSHOT, and folded to ONE sorted
    * file in a sibling tmp. SWAP (under the downed stamp+sentinel pair):
    * per bucket, the folded file moves IN under its unique part name and
    * exactly the snapshot's files are deleted — files a concurrent
    * append landed after the snapshot are neither read nor deleted, so
    * they survive; the appender's rows simply wait for the next fold.
    * Tombstone files are cleared only when this pass folded EVERY bucket
    * that had data at snapshot time (otherwise cold buckets still hold
    * dead rows the probe filter must keep killing) — and only the
    * SNAPSHOTTED tombstone files, so a tombstone written concurrently
    * keeps applying. Work and I/O are proportional to the folded
    * buckets only.
    */
  private def fold(spark: SparkSession, dest: String,
                   sortCols: Seq[Column], minFiles: Int): Seq[Int] =
    StoreLock.withLock(dest, "compact") {
      val buckets = readBuckets(dest) // fails loudly on a mid-swap store
      val snap: Map[Int, Seq[Path]] =
        (0 until buckets).map(b =>
          b -> parquetFiles(Paths.get(dest, s"__bucket=$b"))).toMap
      val tombSnap = tombstoneFiles(dest)
      val hot = (0 until buckets).filter(b => snap(b).size >= minFiles)
      if (hot.nonEmpty) {
        val rowSchema = BucketedParquet.schema(dest)
        val fileSchema = StructType(rowSchema.filterNot(_.name == "__bucket"))
        val tmpRoot = dest.stripSuffix("/") + "-rewrite-tmp"
        deleteRecursively(Paths.get(tmpRoot))
        val tomb =
          if (tombSnap.isEmpty) None
          else Some((readIdCol(dest), spark.read.schema(tombSchema)
            .parquet(tombSnap.map(_.toString): _*)))
        // 1. materialize every replacement before touching the store
        hot.foreach { b =>
          val raw = spark.read.schema(fileSchema)
            .parquet(snap(b).map(_.toString): _*)
          val live = tomb match {
            case Some((idc, tb)) => raw.join(broadcast(tb),
              raw(idc).cast("string") === tb("__id") &&
                raw("__gen") < tb("__gen"), "left_anti")
            case None => raw
          }
          live.coalesce(1).sortWithinPartitions(sortCols: _*)
            .write.mode("overwrite").parquet(s"$tmpRoot/__bucket=$b")
        }
        testHookBeforeSwap(dest)
        // 2. stamp first, sentinel second (the rewriteStore ordering)
        val stampFile = Paths.get(dest, "source_stamp.txt")
        val stamp = if (StoreFs.exists(stampFile))
                      Some(StoreFs.readString(stampFile))
                    else None
        StoreFs.deleteIfExists(stampFile)
        StoreFs.deleteIfExists(Paths.get(dest, "_buckets.txt"))
        hot.foreach { b =>
          val dir = Paths.get(dest, s"__bucket=$b")
          StoreFs.createDirectories(dir)
          parquetFiles(Paths.get(tmpRoot, s"__bucket=$b"))
            .foreach(f => StoreFs.move(f, dir.resolve(f.getFileName)))
          snap(b).foreach(StoreFs.deleteIfExists(_))
        }
        val foldedEverything = (0 until buckets)
          .forall(b => snap(b).isEmpty || hot.contains(b))
        if (foldedEverything) tombSnap.foreach(StoreFs.deleteIfExists(_))
        StoreFs.deleteRecursively(Paths.get(tmpRoot))
        // 3. sentinel back, stamp last
        StoreFs.writeString(Paths.get(dest, "_buckets.txt"), buckets.toString)
        stamp.foreach(StoreFs.writeString(stampFile, _))
      }
      hot
    }

  /** Parquet data files currently in one bucket dir. */
  def bucketFileCount(dest: String, bucket: Int): Int =
    parquetFiles(Paths.get(dest, s"__bucket=$bucket")).size

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")
      }.toList
      finally s.close()
    }

  private def tombstoneFiles(dest: String): Seq[Path] =
    parquetFiles(Paths.get(dest, TombstoneDir))

  /** Anti-join the broadcast tombstone set when one exists: a row is
    * dead iff SOME tombstone of its id outranks its generation (strict
    * `<`, so an upsert's own rows survive the tombstone written with
    * them). Never-upserted stores skip the join entirely.
    */
  private def dropDead(spark: SparkSession, dest: String,
                       rows: DataFrame): DataFrame = {
    val tf = tombstoneFiles(dest)
    if (tf.isEmpty) rows
    else {
      val idc = readIdCol(dest)
      val tb = spark.read.schema(tombSchema).parquet(tf.map(_.toString): _*)
      rows.join(broadcast(tb),
        rows(idc).cast("string") === tb("__id") &&
          rows("__gen") < tb("__gen"), "left_anti")
    }
  }

  /** Loud-failure entry check for writers: any live maintenance except
    * a compaction (which the segment model makes safe to race) rejects
    * the write before it lands a single file.
    */
  private def assertWritable(dest: String): Unit =
    StoreLock.heldBy(dest) match {
      case Some(op) if op != "compact" => throw new IllegalStateException(
        s"store at $dest is under '$op' maintenance; a concurrent write " +
          "could be destroyed by its directory swap — retry after it ends")
      case _ => ()
    }

  /** Loud-failure EXIT check for writers: a rebucket that began while
    * this write was in flight may or may not have snapshotted its files
    * — the caller must treat the write as not-applied and retry after
    * the rebucket (compactions are safe to race and don't trip this).
    */
  private def assertNoRebucketRace(dest: String): Unit =
    StoreLock.heldBy(dest) match {
      case Some("rebucket") => throw new IllegalStateException(
        s"write to $dest raced a rebucket: the rewrite may not include " +
          "this batch — re-apply it after maintenance completes")
      case _ => ()
    }

  /** The driver-side twin of [[bucketOf]]: Spark's own string cast of
    * the key, then Murmur3 (seed 42, `hash`'s) and a non-negative
    * modulus — so a probe knows its bucket dir before any plan exists.
    */
  private[search] def keyBucket(key: Any, buckets: Int): Int = {
    val s = Cast(Literal(key), StringType,
      Some(SQLConf.get.sessionLocalTimeZone)).eval()
    Math.floorMod(
      Murmur3HashFunction.hash(s, StringType, 42L).toInt, buckets)
  }

  // metadata files ride the StoreFs seam (read-after-write visibility
  // is contract primitive 3) — an object-store binding inherits every
  // _schema/_buckets/_gen/_idcol read-write without a call-site hunt
  private def writeMeta(dest: String, buckets: Int, schema: StructType): Unit = {
    BucketedParquet.writeSchema(dest, schema)
    // _buckets.txt LAST: it is the store's serve sentinel
    StoreFs.writeString(Paths.get(dest, "_buckets.txt"), buckets.toString)
  }

  private def readBuckets(dest: String): Int =
    StoreFs.readString(Paths.get(dest, "_buckets.txt")).trim.toInt

  /** Monotonic per-store generation counter (`_gen.txt`; build = 0).
    * Read-inc-write under the single-writer-per-store contract.
    */
  private def nextGen(dest: String): Long = {
    val g = readGen(dest) + 1
    writeGen(dest, g)
    g
  }

  private def readGen(dest: String): Long = {
    val f = Paths.get(dest, "_gen.txt")
    if (StoreFs.exists(f)) StoreFs.readString(f).trim.toLong else 0L
  }

  private def writeGen(dest: String, gen: Long): Unit =
    StoreFs.writeString(Paths.get(dest, "_gen.txt"), gen.toString)

  /** The row-identity column tombstones key on — persisted at first
    * upsert/delete; later ones must agree (a store has ONE identity).
    */
  private def writeIdCol(dest: String, idCol: String): Unit = {
    val f = Paths.get(dest, "_idcol.txt")
    if (StoreFs.exists(f)) {
      val prev = StoreFs.readString(f).trim
      require(prev == idCol,
        s"store at $dest tombstones on '$prev'; cannot upsert by '$idCol'")
    } else StoreFs.writeString(f, idCol)
  }

  private def readIdCol(dest: String): String =
    StoreFs.readString(Paths.get(dest, "_idcol.txt")).trim

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }
}
