package graft.search

import graft.util.CacheLedger.CacheOps
import graft.util.{BucketedParquet, Stamp, StoreLock, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** Persistent BM25 serving index — the Spark-native analogue of the
  * reference's Solr collection index (`Ranking Model/src/main/java/Main/
  * SolrIndexer.java:47-59`): built ONCE, reused across queries, so serving
  * never re-tokenizes the corpus (Solr never re-analyzes its documents per
  * query either; the ad-hoc [[BM25.scoreTopK]] path does, which is right for
  * one-off queries and wrong for a serving deployment).
  *
  * Layout under one index directory:
  * {{{
  *   params.txt             termBuckets=<B>  (persisted at build — index identity)
  *   postings/tb=<0..B-1>/  (doc, term, tf, positions, len)  sorted by (term, doc)
  *   termstats/tb=<0..B-1>/ (term, df)                       sorted by term
  *   corpus/                (n, avglen, total_len)           one row
  *   {postings,termstats,corpus}/_schema.json   each relation's row schema
  * }}}
  *
  * The per-relation `_schema.json` is what makes a served query's
  * construction job-free: every read goes through the persisted schema
  * (no footer-reading inference job), and a term-pruned read lists only
  * the query terms' `tb=` dirs ([[graft.util.BucketedParquet]]). An
  * index without the files fails loudly and is rebuilt; there is no
  * inferring fallback.
  *
  * `positions` is the sorted token-ordinal list of the term within the doc
  * (Lucene's positional postings) — what serves quoted-phrase queries
  * ([[topKPhrase]]) without re-tokenizing any document.
  *
  * `len` (doc length) is denormalized onto postings — Lucene stores per-doc
  * field norms alongside postings the same way — so serving needs NO
  * docstats join. Query-time reads prune twice: the term bucket
  * `tb = crc32(term) % termBuckets` prunes whole directories at planning
  * time (PartitionFilters) and the within-file term sort prunes row groups
  * via parquet min/max stats (PushedFilters) — the two-level pruning a
  * sharded inverted index gives. The bucket count is NOT a compile-time
  * constant (v4 — round-15 verdict item 6): it is derived ∝ VOCABULARY at
  * build time ([[autoTermBuckets]] — at a 100-TB corpus a fixed 16 means
  * 16 giant postings partitions) and persisted in the index's metadata
  * (the byidBuckets/AnnMeta precedent), because the count is INDEX
  * IDENTITY: a probe assuming a different modulus than the build would
  * prune to the wrong directory and silently miss every posting of the
  * term. Every probe/append/compact reads the choice back — per PART,
  * since a segment's vocabulary (and so its derived count) legitimately
  * differs from the base's — and compaction re-derives it over the merged
  * vocabulary, which is how the count grows as segments fold in. Per-
  * bucket files bucketed by doc (for co-partitioned score joins) remain
  * the 100-TB follow-on.
  *
  * Why directory partitioning instead of [[graft.sources.Sinks.bucketedTable]]
  * (bucketBy + saveAsTable): bucketed-table reads resolve through the session
  * catalog, which does not survive across driver sessions here; partition
  * directories give the same pruning from a plain path read.
  */
object BM25Index {

  /** Floor for the derived bucket count — keeps small corpora wide
    * enough to exercise the pruned read (the pre-v4 constant).
    */
  val DefaultTermBuckets = 16

  /** Target vocabulary slice per bucket for [[autoTermBuckets]]: ~64k
    * terms keeps a bucket's termstats file one comfortable scan and its
    * postings directory far from the giant-partition regime.
    */
  val TermsPerBucket = 65536L

  /** Bucket count ∝ vocabulary: ⌈nTerms / TermsPerBucket⌉, floored at
    * [[DefaultTermBuckets]] — a 100M-term corpus derives ~1.5k buckets
    * where the old constant gave 16 giant partitions.
    */
  def autoTermBuckets(nTerms: Long): Int =
    math.max(DefaultTermBuckets,
      ((nTerms + TermsPerBucket - 1) / TermsPerBucket).toInt)

  /** The PERSISTED bucket count of an index part — the only value a
    * probe may use (a guessed modulus prunes to the wrong directory).
    */
  def termBuckets(part: String): Int =
    graft.similarity.AnnMeta.readKey(part, "termBuckets")

  /** Engine-independent term bucket, computable as a Column at build time
    * and on the driver at query time (java.util.zip.CRC32 and Spark's
    * `crc32` share the polynomial). `buckets` is the part's persisted
    * count, never a constant.
    */
  def termBucketCol(term: Column, buckets: Int): Column =
    pmod(crc32(term), lit(buckets)).cast("int")

  def termBucket(term: String, buckets: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (c.getValue % buckets).toInt
  }

  /** Build the index from a corpus. One tokenize pass — the (doc, term, tf)
    * aggregation is persisted across the three writes (postings, termstats,
    * corpus all derive from it; without the cache Spark would recompute the
    * tokenize+explode+groupBy DAG per sink).
    *
    * `corpus` carries `total_len` (exact integer token count) alongside the
    * derived `avglen` so segment merges ([[topKMerged]]) can recombine
    * corpus stats EXACTLY — merging via n·avglen would reintroduce the
    * division's rounding error per segment.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, dest: String): Unit = {
    // a rebuild starts from a clean delete state: stale tombstones would
    // exclude rebuilt docs whose upsert segments no longer exist. ONE
    // canonical clear (tombstone dir + generation counter, both through
    // the StoreFs seam) — re-implementing it here split the delete
    // across two filesystems under a swapped Fs.
    graft.util.Tombstones.clear(dest)
    // positional postings (Lucene stores positions alongside tf the same
    // way): tf and the sorted position list come out of ONE aggregation
    // over the positional token stream, so adding positions costs no extra
    // corpus pass. sort_array fixes collect_list's partition-order
    // nondeterminism.
    val post = BM25.tokensWithPos(docs, idCol, textCol)
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .persistBounded()
    try {
      // the termstats aggregate doubles as the vocabulary count the
      // bucket derivation needs — persisted so the count job and the
      // write share one computation
      val tstats = post.groupBy(col("term"))
        .agg(count(lit(1)).cast("double").as("df"))
        .persistBounded()
      try {
        val buckets = autoTermBuckets(tstats.count())
        // metadata BEFORE artifacts (the AnnMeta ordering): a reader
        // never sees postings without the modulus that routes them
        graft.similarity.AnnMeta.write(dest, "termBuckets" -> buckets)
        val lens = post.groupBy(col("doc")).agg(sum(col("tf")).as("len"))
        writeRelations(post.join(lens, "doc"), tstats,
          lens.agg(count(lit(1)).cast("double").as("n"),
            (sum(col("len")) / count(lit(1)).cast("double")).as("avglen"),
            sum(col("len")).cast("long").as("total_len")),
          buckets, dest)
      } finally tstats.unpersist()
    } finally post.unpersist()
  }

  /** The three relation writes [[build]] and [[compact]] share: postings
    * and termstats bucketed by `tb` and term-sorted within, corpus as one
    * file. Each relation's `_schema.json` is the written frame's own
    * schema, so recording it costs no job; readers then need neither a
    * schema-inference job nor a listing of every bucket.
    */
  private def writeRelations(postings: DataFrame, tstats: DataFrame,
                             corpus: DataFrame, buckets: Int,
                             root: String): Unit = {
    def write(rows: DataFrame, rel: String, bucketed: Boolean): Unit = {
      val w = rows.write.mode("overwrite")
      (if (bucketed) w.partitionBy("tb") else w).parquet(s"$root/$rel")
      BucketedParquet.writeSchema(s"$root/$rel", rows.schema)
    }
    def byBucket(rows: DataFrame, sortCols: Column*): DataFrame =
      rows.withColumn("tb", termBucketCol(col("term"), buckets))
        .repartition(col("tb"))
        .sortWithinPartitions(sortCols: _*)
    write(byBucket(postings, col("term"), col("doc")), "postings", bucketed = true)
    write(byBucket(tstats, col("term")), "termstats", bucketed = true)
    write(corpus.coalesce(1), "corpus", bucketed = false)
  }

  /** The query terms' slice of a bucketed relation of one part: only the
    * terms' `tb=` dirs are listed, each part routed by its own persisted
    * modulus (a segment's derived count legitimately differs from the
    * base's). The `tb` and term filters keep the plan's PartitionFilters
    * and PushedFilters; a part holding none of the buckets reads as a
    * typed empty frame.
    */
  private def termSlice(spark: SparkSession, part: String, rel: String,
                        terms: Seq[String]): DataFrame = {
    val tbs = terms.map(termBucket(_, termBuckets(part))).distinct
    BucketedParquet.readParts(spark, s"$part/$rel", "tb", tbs)
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
  }

  /** Incremental maintenance, Lucene-segment style: NEW documents are
    * indexed as a self-contained segment (same postings/termstats/corpus
    * layout) under `dest/segments/<name>`, never rewriting the base — the
    * write cost of an append is proportional to the appended docs, not the
    * index. [[topKMerged]] serves the union with globally merged df/N/
    * avglen, which makes segment-append + merged-serve EXACTLY equal to a
    * full rebuild (spec-asserted). Contract: appended docs are NEW ids
    * (dedup upstream) — re-adding an id would double-count its postings,
    * the same contract Solr's add-without-delete has. Background segment
    * compaction (merge small segments into the base) is the standard
    * follow-on and reuses [[build]] unchanged.
    */
  def appendSegment(docs: DataFrame, idCol: String, textCol: String,
                    dest: String, name: String): Unit =
    // under the store lock: compact's partDirs snapshot + whole-dir
    // segment delete is a whole-index rewrite with no segment-file
    // model, so a racing append must collide loudly, not vanish
    StoreLock.withLock(dest, "append") {
      appendSegmentUnlocked(docs, idCol, textCol, dest, name)
    }

  private def appendSegmentUnlocked(docs: DataFrame, idCol: String,
                                    textCol: String, dest: String,
                                    name: String): Unit =
    build(docs, idCol, textCol, s"$dest/segments/$name")

  /** Id-keyed OVERWRITE — the reference indexer's `addBean`-with-existing-
    * id semantics (`SolrIndexer.java:47-59`), expressed the way Lucene
    * expresses it: delete + add with tombstones folded at merge. The
    * batch's ids are tombstoned at a fresh generation with the NEW
    * segment recorded as the one part their postings may still be served
    * from, then the batch indexes as a normal segment. Serving
    * ([[topKMerged]]/[[topKPhrase]]) drops a tombstoned doc's rows from
    * every part EXCEPT that segment, so exactly the latest version
    * scores; corpus statistics (df/N/avglen) keep counting the dead
    * version until [[compact]] — precisely Lucene's deleted-docs-in-
    * stats behavior, and compaction is the stats-refresh event (after
    * it the index equals a fresh build over the updated corpus,
    * spec-asserted bit-equal). Tombstone-first ordering: a crash between
    * the two writes leaves the doc ABSENT (recoverable — retry the
    * upsert with the SAME segment name and it converges at a higher
    * generation) rather than serving two versions.
    */
  def upsertSegment(docs: DataFrame, idCol: String, textCol: String,
                    dest: String, name: String): Unit = {
    // trim-nonEmpty: a blank name could collide with a real segment on
    // sloppy input (NoPart itself is the unmatchable NUL sentinel below)
    require(name.trim.nonEmpty, "upsert segment needs a non-blank name")
    StoreLock.withLock(dest, "append") {
      writeTombstones(docs.select(col(idCol).cast("string").as("__id")),
        dest, exceptPart = name)
      appendSegmentUnlocked(docs, idCol, textCol, dest, name)
    }
  }

  /** Tombstone-only delete (Solr's deleteById): the ids stop being
    * served on the next query and their postings are physically purged
    * (and stats refreshed) at the next [[compact]].
    */
  def deleteDocs(spark: SparkSession, dest: String, ids: Seq[Any]): Unit =
    StoreLock.withLock(dest, "append") {
      import spark.implicits._
      writeTombstones(ids.map(String.valueOf).toDF("__id"), dest,
        exceptPart = NoPart)
    }

  // never a valid part tag (base = "", segment names are required
  // nonempty), so a delete's tombstone excludes the doc from every part
  private val NoPart = "\u0000"

  private val tombSchema = StructType(Seq(
    StructField("__id", StringType), StructField("__gen", LongType),
    StructField("__except", StringType)))

  private def writeTombstones(ids: DataFrame, dest: String,
                              exceptPart: String): Unit = {
    // generation-counter IO rides the StoreFs seam (safe under the
    // store lock every writer holds)
    val gen = {
      val f = Paths.get(dest, "_gen.txt")
      val g = (if (graft.util.StoreFs.exists(f))
        graft.util.StoreFs.readString(f).trim.toLong else 0L) + 1
      graft.util.StoreFs.createDirectories(f.getParent)
      graft.util.StoreFs.writeString(f, g.toString)
      g
    }
    ids.select(col(ids.columns.head).cast("string").as("__id")).distinct()
      .withColumn("__gen", lit(gen))
      .withColumn("__except", lit(exceptPart))
      .coalesce(1).write.mode("append").parquet(s"$dest/_tombstones")
  }

  /** The LATEST tombstone per doc id (an id upserted twice is governed
    * only by its newest tombstone — applying both would kill every
    * version), broadcast-sized by the same argument as Lucene's live-docs
    * bitmaps: proportional to deletes since the last merge.
    */
  private def latestTombstones(spark: SparkSession,
                               dest: String): Option[DataFrame] = {
    val dir = Paths.get(dest, "_tombstones")
    if (!Files.isDirectory(dir)) None
    else {
      import org.apache.spark.sql.expressions.Window
      Some(spark.read.schema(tombSchema).parquet(dir.toString)
        .withColumn("__rn", row_number().over(Window.partitionBy("__id")
          .orderBy(col("__gen").desc, col("__except").asc)))
        .filter(col("__rn") === 1).drop("__rn", "__gen"))
    }
  }

  /** Part-tagged postings union with the tombstone exclusion applied: a
    * tombstoned doc's rows survive only in the tombstone's `__except`
    * part. No-op (no tag column, no join) when the index has never seen
    * an upsert/delete.
    */
  private def livePostings(spark: SparkSession, dest: String,
                           parts: Seq[String],
                           read: String => DataFrame): DataFrame = {
    latestTombstones(spark, dest) match {
      case None =>
        parts.map(read).reduce(_.unionAll(_))
      case Some(tomb) =>
        val tagged = parts.map(p =>
            read(p).withColumn("__part", lit(partTag(dest, p))))
          .reduce(_.unionAll(_))
        tagged.join(broadcast(tomb),
            tagged("doc").cast("string") === tomb("__id") &&
              tagged("__part") =!= tomb("__except"), "left_anti")
          .drop("__part")
    }
  }

  private def partTag(dest: String, part: String): String =
    if (part == dest) "" else Paths.get(part).getFileName.toString

  /** Segment compaction — fold every appended segment back into the base,
    * WITHOUT re-tokenizing any document: postings rows are already the
    * per-(doc, term) ground truth, so the merged index is just the unioned
    * postings re-bucketed/re-sorted, termstats re-summed from the unioned
    * parts, and corpus stats recombined from the exact counts (same math
    * as [[topKMerged]] — compact-then-serve ≡ merged-serve, spec-asserted).
    * This is Lucene's background segment merge: amortize many small
    * appends into one read-optimized base. Cost: one read+shuffle+write of
    * index METADATA (postings), never a corpus scan.
    */
  def compact(spark: SparkSession, dest: String): Unit = StoreLock.withLock(dest, "compact") {
    val parts = partDirs(dest)
    val purging = Files.isDirectory(Paths.get(dest, "_tombstones"))
    if (parts.size > 1 || purging) {
      val post = livePostings(spark, dest, parts,
        p => BucketedParquet.readAll(spark, s"$p/postings"))
        .drop("tb").persistBounded()
      // corpus stats recomputed from the SURVIVING per-(doc, term) ground
      // truth — on a tombstone-free index this equals the per-part
      // (n, total_len) summation exactly (disjoint docs, integer-valued
      // doubles), and with tombstones it is the stats refresh that makes
      // compact ≡ rebuild-over-the-updated-corpus
      val corpus = post.select(col("doc"), col("len")).distinct()
        .agg(count(lit(1)).cast("double").as("n"),
          (sum(col("len")) / count(lit(1)).cast("double")).as("avglen"),
          sum(col("len")).cast("long").as("total_len"))
      try {
        val tmp = s"$dest/compact-tmp"
        // the bucket count is RE-DERIVED over the merged vocabulary —
        // this is how the count grows as segments fold in (the folded
        // base routes by ITS modulus; the segments' own counts die with
        // their directories)
        val tstats = post.groupBy(col("term"))
          .agg(count(lit(1)).cast("double").as("df")).persistBounded()
        try {
          val buckets = autoTermBuckets(tstats.count())
          graft.similarity.AnnMeta.write(tmp, "termBuckets" -> buckets)
          writeRelations(post, tstats, corpus, buckets, tmp)
        } finally tstats.unpersist()
        // swap with the isBuilt sentinel (corpus/_SUCCESS) handled FIRST on
        // delete and LAST on move: a crash anywhere mid-swap leaves the
        // index without its sentinel, so build-if-absent callers rebuild
        // instead of serving mixed-generation postings/termstats. The
        // params file rides INSIDE the sentinel window (deleted right
        // after corpus, restored right before it) so a valid sentinel
        // can never pair new postings with the old modulus — a probe
        // routed by the stale count would silently miss terms. The
        // segments dir is deleted BEFORE the sentinel lands — if it were
        // removed after, a crash between the corpus move and the segment
        // delete would leave a valid sentinel alongside the old segments
        // and topKMerged would double-count every compacted segment doc.
        val swapOrder = Seq("corpus", graft.similarity.AnnMeta.File,
          "postings", "termstats")
        swapOrder.foreach(sub =>
          graft.util.StoreFs.deleteRecursively(Paths.get(dest, sub)))
        graft.util.StoreFs.deleteRecursively(Paths.get(dest, "segments"))
        // tombstones go with the segments: their deletes are now folded
        // physically (and the stats refreshed), like Lucene's merge
        graft.util.StoreFs.deleteRecursively(Paths.get(dest, "_tombstones"))
        swapOrder.reverse.foreach(sub =>
          graft.util.StoreFs.move(Paths.get(tmp, sub), Paths.get(dest, sub)))
        graft.util.StoreFs.deleteRecursively(Paths.get(tmp))
      } finally post.unpersist()
    }
  }

  /** All index parts: the base plus any appended segments. */
  private def partDirs(dest: String): Seq[String] = {
    val segRoot = Paths.get(dest, "segments")
    val segs =
      if (Files.isDirectory(segRoot)) {
        val s = Files.list(segRoot)
        try s.toArray.map(_.toString).toSeq.sorted finally s.close()
      } else Seq.empty
    dest +: segs
  }

  /** Serving-path top-k over base + segments: per-part bucket/term-pruned
    * postings reads unioned, df summed per term across parts, corpus stats
    * recombined from exact counts. With zero segments this is [[topK]]'s
    * plan plus one no-op union.
    */
  def topKMerged(spark: SparkSession, dest: String, queryTerms: Seq[String],
                 k: Int): DataFrame = {
    val terms = BM25.analyze(queryTerms)
    require(terms.nonEmpty, "no query terms survive analysis")
    val parts = partDirs(dest)
    val post = livePostings(spark, dest, parts,
      termSlice(spark, _, "postings", terms))
    val tstats = parts
      .map(termSlice(spark, _, "termstats", terms))
      .reduce(_.unionAll(_))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val corpus = parts
      .map(p => BucketedParquet.readAll(spark, s"$p/corpus"))
      .reduce(_.unionAll(_))
      .agg(sum(col("n")).as("n"),
        (sum(col("total_len")).cast("double") / sum(col("n"))).as("avglen"))
    post.join(broadcast(tstats), "term")
      .crossJoin(broadcast(corpus))
      .groupBy(col("doc"))
      .agg(round(sum(BM25.idfExpr(col("n"), col("df")) *
        BM25.tfNormExpr(col("tf"), col("len"), col("avglen"))), 6).as("score"))
      .orderBy(col("score").desc, col("doc").asc)
      .limit(k)
  }

  def isBuilt(dest: String): Boolean =
    Files.exists(Paths.get(dest, "corpus", "_SUCCESS"))

  /** Canonical index location for a testdata sf dir: under the repo's build
    * dir by default (`user.dir` = the sbt fork's working directory), or
    * `GRAFT_INDEX_DIR` when set — never a hardcoded absolute path.
    */
  def defaultDir(sfDir: String): String = {
    // v5: every relation carries its `_schema.json` (a v4 index has
    // none and would fail every read; the bump orphans it so stamped
    // stores rebuild). v4 persisted termBuckets per part.
    graft.util.StoreDirs.resolve("bm25-index-v5", sfDir)
  }

  /** Build-if-absent-or-stale for a testdata documents corpus; returns the
    * index dir. Freshness = the stored source stamp matches the corpus
    * files' current metadata (not a bare _SUCCESS check).
    */
  def ensureBuilt(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir)
    val stamp = Stamp.sourceStamp(sfDir)
    if (!(isBuilt(dest) && Stamp.isFresh(dest, stamp))) {
      build(Tables.documents(spark, sfDir), "doc_id", "text", dest)
      Stamp.write(dest, stamp)
    }
    dest
  }

  /** Build-if-absent-or-stale for the SEGMENTED index exercised by
    * `q_keyword_bm25_incr`: the base indexes 80% of the corpus
    * (doc_id % 5 ≠ 0), the other 20% arrives later as an appended segment
    * — merged serving must equal a full-corpus index exactly. A rebuild
    * wipes the whole dest first so stale segments can never linger.
    */
  def ensureBuiltIncremental(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "__incr"
    val stamp = Stamp.sourceStamp(sfDir)
    val fresh = isBuilt(dest) && Stamp.isFresh(dest, stamp) &&
      Files.isDirectory(Paths.get(dest, "segments"))
    if (!fresh) {
      deleteRecursively(Paths.get(dest))
      val docs = Tables.documents(spark, sfDir)
      build(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", dest)
      appendSegment(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
        dest, "seg-00001")
      Stamp.write(dest, stamp)
    }
    dest
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.delete(q))
      finally s.close()
    }

  /** Serving-path top-k: reads only the bucket-pruned, term-filtered
    * postings/termstats slices plus the 1-row corpus; the whole query is two
    * broadcast joins + one groupBy(doc) over matching postings. Score is
    * bit-identical to [[BM25.scoreTopK]] (same idf/tfNorm/rounding over the
    * same tf/len/df/N values).
    */
  /** Served quoted-phrase top-k — the positions-index path the ad-hoc
    * [[BM25.scoreTopKPhrase]] documents as "what a high-QPS deployment
    * would run": no document is re-tokenized; the whole query reads only
    * the bucket/term-pruned positional postings of the phrase's terms.
    *
    * Shape: per distinct phrase term, the pruned postings slice gives
    * (doc, tf, positions, len); an inner join on doc keeps docs containing
    * ALL terms; adjacency is a fold of
    * `array_intersect(transform(cand, p -> p+1), pos_next)` over the
    * phrase's slots (repeated terms reuse the same positions array, which
    * is exactly right — a token cannot occupy two slots at once). Scoring
    * reproduces the ad-hoc path bit-for-bit: statistics over the MATCH SET
    * (N = matches, df = N since every match contains every phrase term,
    * len/avglen from the denormalized doc lengths) — so the same DuckDB
    * oracle gates both paths.
    *
    * Works over base + segments unmodified: a doc lives in exactly one
    * part (the append contract), so its tf/positions/len rows are
    * self-consistent, and the match-set stats are computed from the joined
    * result, not per-part.
    */
  def topKPhrase(spark: SparkSession, dest: String, phrase: Seq[String],
                 k: Int): DataFrame = {
    val ordered = phrase.map(_.toLowerCase.replaceAll("[^a-z0-9]", ""))
      .filter(_.nonEmpty)
    require(ordered.nonEmpty, "no phrase terms survive analysis")
    val terms = ordered.distinct
    val post = livePostings(spark, dest, partDirs(dest),
      termSlice(spark, _, "postings", terms))
    val slot = terms.zipWithIndex.toMap
    val joined = terms.zipWithIndex.map { case (t, i) =>
        val keep = Seq(col("doc")) ++ (if (i == 0) Seq(col("len")) else Nil) ++
          Seq(col("tf").as(s"__tf_$i"), col("positions").as(s"__pos_$i"))
        post.filter(col("term") === t).select(keep: _*)
      }.reduce(_.join(_, "doc"))
    val adjacency = ordered.tail.foldLeft(col(s"__pos_${slot(ordered.head)}")) {
      (cand, t) => array_intersect(transform(cand, p => p + 1), col(s"__pos_${slot(t)}"))
    }
    val matches = joined.filter(size(adjacency) > 0)
    val corpus = matches.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("len")) / count(lit(1)).cast("double")).as("avglen"))
    matches.crossJoin(broadcast(corpus))
      .select(col("doc"), round(terms.indices.map(i =>
          BM25.idfExpr(col("n"), col("n")) *
            BM25.tfNormExpr(col(s"__tf_$i"), col("len"), col("avglen")))
        .reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col("doc").asc)
      .limit(k)
  }

  /** Served suggester: prefix autocomplete over the PERSISTED vocabulary —
    * the termstats table IS the suggester artifact (term, df), corpus-
    * metadata-sized, so the ad-hoc path's full corpus tokenize
    * ([[Collections.suggest]]) never runs at query time. The prefix
    * predicate cannot prune crc32 term buckets (hash buckets don't
    * preserve prefixes) but it pushes to parquet as StringStartsWith and
    * the within-bucket term sort gives row-group min/max pruning — the
    * same two-level story as [[topK]], minus the directory cut. df is
    * summed across segments (a term's df is additive over disjoint
    * doc sets).
    */
  def suggest(spark: SparkSession, dest: String, prefix: String,
              k: Int): DataFrame = {
    partDirs(dest).map(p => BucketedParquet.readAll(spark, s"$p/termstats"))
      .reduce(_.unionAll(_))
      .filter(col("term").startsWith(prefix.toLowerCase))
      .groupBy(col("term"))
      .agg(sum(col("df")).cast("long").as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)
  }

  /** Served More-Like-This: [[BM25.moreLikeThis]] re-expressed as joins
    * over the prebuilt index. The seed's interesting terms come from its
    * own postings rows (tf), df from termstats, N/avglen from corpus;
    * scoring rides the term-pruned postings with denormalized `len` — no
    * corpus re-tokenize anywhere. Must be hash-equal to the ad-hoc ranking
    * (same rounding, same tf·idf term selection, same tiebreaks); shares
    * `q_more_like_this`'s oracle.
    *
    * The seed lookup filters postings by doc across all term buckets —
    * row-group stats prune most of it, and the read is index metadata,
    * not corpus. A high-QPS deployment would add a doc-keyed forward
    * index (doc → terms) to make the seed read one row group; for
    * analytics the pruned scan is the right shape.
    */
  def moreLikeThis(spark: SparkSession, dest: String, seedId: Long,
                   nTerms: Int, k: Int, minDf: Double = 1.0): DataFrame = {
    require(nTerms > 0 && k > 0, "nTerms and k must be positive")
    val post = BucketedParquet.readAll(spark, s"$dest/postings")
    val tstats = BucketedParquet.readAll(spark, s"$dest/termstats")
      .select(col("term"), col("df"))
    val corpus = BucketedParquet.readAll(spark, s"$dest/corpus")
    val seedTf = post.filter(col("doc") === seedId).select(col("term"), col("tf"))
    val seedTerms = tstats.join(broadcast(seedTf), "term")
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(corpus))
      .withColumn("tfidf", round(col("tf") * BM25.idfExpr(col("n"), col("df")), 6))
      .orderBy(col("tfidf").desc, col("term").asc)
      .limit(nTerms)
      .select(col("term"))
    val prunedStats = tstats.join(broadcast(seedTerms), "term")
    post.join(broadcast(seedTerms), "term")
      .filter(col("doc") =!= seedId)
      .join(broadcast(prunedStats), "term")
      .crossJoin(broadcast(corpus))
      .groupBy(col("doc"))
      .agg(round(sum(BM25.idfExpr(col("n"), col("df")) *
        BM25.tfNormExpr(col("tf"), col("len"), col("avglen"))), 6).as("score"))
      .orderBy(col("score").desc, col("doc").asc)
      .limit(k)
  }

  def topK(spark: SparkSession, dest: String, queryTerms: Seq[String],
           k: Int): DataFrame = {
    val terms = BM25.analyze(queryTerms)
    require(terms.nonEmpty, "no query terms survive analysis")
    val post = termSlice(spark, dest, "postings", terms)
    val tstats = termSlice(spark, dest, "termstats", terms)
    val corpus = BucketedParquet.readAll(spark, s"$dest/corpus")
    post.join(broadcast(tstats.select(col("term"), col("df"))), "term")
      .crossJoin(broadcast(corpus))
      .groupBy(col("doc"))
      .agg(round(sum(BM25.idfExpr(col("n"), col("df")) *
        BM25.tfNormExpr(col("tf"), col("len"), col("avglen"))), 6).as("score"))
      .orderBy(col("score").desc, col("doc").asc)
      .limit(k)
  }
}
