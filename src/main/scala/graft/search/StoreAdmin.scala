package graft.search

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

/** Serving-store lifecycle admin — the engine's analogue of the
  * reference's collection cleanup (`Ranking Model/src/main/java/Main/
  * SolrCleanup.java:92-105`: `deleteByQuery("*:*")` + collection
  * deletion). The reference empties and drops Solr collections so a
  * pipeline can rebuild from scratch; here every persisted serving
  * artifact (BM25 inverted index + its segmented variant, SimHash
  * signature store, SRP / IVF / PQ / IVF-PQ ANN stores, and the
  * posting/timeline serving layouts) lives under a
  * [[graft.util.Stamp]]-guarded directory, so the lifecycle op is:
  * delete the directory INCLUDING its stamp. The next `ensureBuilt`
  * then rebuilds from the source corpus and serves — and because every
  * build is deterministic, a truncate + rebuild round trip is
  * byte-identical (spec-pinned in StoreAdminSpec for every store
  * family, and the `q_*_served` driver queries re-run green).
  *
  * Deleting the stamp WITH the data matters: a truncate that left a
  * fresh stamp behind would make the store look built while empty (the
  * failure mode [[graft.multimodal.MediaStore]] guards against by
  * writing the stamp last). `truncate` is idempotent — truncating an
  * absent store is a no-op, like deleteByQuery on an empty collection.
  */
object StoreAdmin {

  /** Every persisted store root for a source corpus dir. */
  def storeDirs(sfDir: String): Seq[String] = Seq(
    BM25Index.defaultDir(sfDir),
    BM25Index.defaultDir(sfDir) + "__incr",
    graft.dedup.SimHashStore.defaultDir(sfDir),
    graft.similarity.SrpStore.defaultDir(sfDir),
    graft.similarity.SrpStore.defaultDir(sfDir) + "__incr",
    graft.similarity.SrpStore.defaultDir(sfDir) + "__stream",
    graft.similarity.SrpLabelStore.defaultDir(sfDir),
    graft.similarity.IvfStore.defaultDir(sfDir),
    graft.similarity.IvfStore.defaultDir(sfDir) + "__incr",
    graft.similarity.IvfStore.defaultDir(sfDir) + "__auto",
    graft.similarity.IvfStore.defaultDir(sfDir) + "__policy",
    graft.similarity.PqStore.defaultDir(sfDir),
    graft.similarity.PqStore.defaultDir(sfDir) + "__incr",
    graft.similarity.PqStore.defaultDir(sfDir) + "__drift",
    graft.similarity.PqStore.defaultDir(sfDir) + "__driftfull",
    graft.similarity.PqStore.defaultDir(sfDir) + "__big",
    graft.similarity.IvfPqStore.defaultDir(sfDir),
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__incr",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__drift",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__driftfull",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__big",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__lloyd",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__lloydfull",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__lloydbig",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__lloydbigfull",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__auto",
    graft.similarity.Sq8Store.defaultDir(sfDir),
    graft.similarity.IvfSq8Store.defaultDir(sfDir),
    graft.similarity.IvfSq8Store.defaultDir(sfDir) + "__auto",
    ServingStores.defaultDir(sfDir))

  /** Empty one store (data + stamp). Idempotent; the parent root and
    * other corpora's stores are untouched.
    */
  def truncate(dest: String): Unit = deleteRecursively(Paths.get(dest))

  /** Empty every store for a corpus — the "drop all collections" admin
    * sweep before a from-scratch rebuild.
    */
  def truncateAll(sfDir: String): Unit = storeDirs(sfDir).foreach(truncate)

  /** True iff no store for this corpus holds any artifact. */
  def isEmpty(sfDir: String): Boolean =
    storeDirs(sfDir).forall(d => !Files.exists(Paths.get(d)))

  /** ONE-CALL maintenance sweep across every store family of a corpus —
    * the merge policy a real serving tier runs on a timer (Lucene's
    * TieredMergePolicy; the reference gets it from Solr's background
    * merges), where round 12 left only per-store verbs and nothing
    * deciding WHEN. Policy per family:
    *
    *  - FLAT artifact tables (SimHash/SRP signatures, PQ codes, IVF
    *    vectors+byid): fold when the table holds ≥ `foldAtGenerations`
    *    WRITE GENERATIONS (distinct parquet job UUIDs — an absolute file
    *    count would misread a parallel base write as fragmentation).
    *  - BM25 indexes: fold when ≥ `foldAtSegments` appended segments
    *    exist (the per-query merge-read cost is per segment, so the
    *    policy is segment count, not file count; compact ≡ merged-serve
    *    is spec-pinned, so folding never changes results).
    *  - Serving layouts (postings/timelines, incl. the incr/upsert
    *    twins): selective hot-bucket compaction at `minFiles`, upgraded
    *    to a FULL fold whenever tombstones exist (a full pass is what
    *    clears them). The corpus stores' (fk, sort) contracts are
    *    restated here — parquet does not persist them.
    *
    * The thresholds are PARAMETERS because a real merge policy is tuned
    * per deployment (Lucene's tiered-merge factors): a write-heavy tier
    * raises `foldAtGenerations`/`foldAtSegments` to amortize rewrites, a
    * read-latency tier lowers them toward eager folding. The defaults are
    * the values every driver-gated chain has run under; results never
    * depend on them (compact ≡ rebuild is spec-pinned per family — the
    * knobs move COST, not answers).
    *
    * Idempotent: a second sweep finds one generation everywhere and no
    * hot buckets, and does nothing. Runs between jobs like [[gcOrphans]]
    * (which it ends with) — individual ops still take their store locks,
    * so a forgotten concurrent maintainer fails loudly, not silently.
    * Wired into the driver-gated incr/upsert chains
    * ([[ServingStores.ensureOrdersTimelineIncr]] /
    * [[ServingStores.ensureOrdersTimelineUpsert]]), so the hash gate
    * exercises the sweep itself every round. Returns the actions taken.
    */
  def maintain(spark: org.apache.spark.sql.SparkSession, sfDir: String,
               minFiles: Int = 4, foldAtGenerations: Int = 2,
               foldAtSegments: Int = 1,
               retrainAt: Option[Double] = None): Seq[String] = {
    import org.apache.spark.sql.functions.col
    require(foldAtGenerations >= 2,
      "maintain: foldAtGenerations < 2 would re-fold a store every sweep" +
        " (one generation is the compacted steady state) — idempotence gone")
    require(foldAtSegments >= 1, "maintain: foldAtSegments must be >= 1")
    val log = scala.collection.mutable.Buffer[String]()
    def sweepFlat(root: String, sub: String, fold: String => Unit): Unit = {
      val d = Paths.get(root, sub)
      if (Files.isDirectory(d) && writeGenerations(d) >= foldAtGenerations) {
        fold(root)
        log += s"fold $root/$sub"
      }
    }
    val simhash = graft.dedup.SimHashStore.defaultDir(sfDir)
    sweepFlat(simhash, "sig.parquet",
      d => graft.dedup.SimHashStore.compact(spark, d))
    for (suffix <- Seq("", "__incr", "__stream")) {
      val srp = graft.similarity.SrpStore.defaultDir(sfDir) + suffix
      sweepFlat(srp, "sig.parquet",
        d => graft.similarity.SrpStore.compact(spark, d))
    }
    sweepFlat(graft.similarity.SrpLabelStore.defaultDir(sfDir), "sig.parquet",
      d => graft.similarity.SrpLabelStore.compact(spark, d))
    for (suffix <- Seq("", "__incr", "__auto")) {
      val ivf = graft.similarity.IvfStore.defaultDir(sfDir) + suffix
      sweepFlat(ivf, "byid.parquet",
        d => graft.similarity.IvfStore.compact(spark, d))
    }
    for (suffix <- Seq("", "__incr", "__drift", "__driftfull", "__big",
        "__lloyd", "__lloydfull", "__lloydbig", "__lloydbigfull", "__auto")) {
      val ivfpq = graft.similarity.IvfPqStore.defaultDir(sfDir) + suffix
      sweepFlat(ivfpq, "byid.parquet",
        d => graft.similarity.IvfPqStore.compact(spark, d))
    }
    for (suffix <- Seq("", "__incr", "__drift", "__driftfull", "__big")) {
      val pq = graft.similarity.PqStore.defaultDir(sfDir) + suffix
      sweepFlat(pq, "codes.parquet",
        d => graft.similarity.PqStore.compact(spark, d))
    }
    sweepFlat(graft.similarity.Sq8Store.defaultDir(sfDir), "codes.parquet",
      d => graft.similarity.Sq8Store.compact(spark, d))
    for (suffix <- Seq("", "__auto")) {
      val ivfsq8 = graft.similarity.IvfSq8Store.defaultDir(sfDir) + suffix
      sweepFlat(ivfsq8, "codes.parquet",
        d => graft.similarity.IvfSq8Store.compact(spark, d))
    }
    // the BASE index only: the __incr twin's identity IS "base + open
    // segment" (its ensure re-checks the segments dir and would rebuild
    // from scratch every time a sweep folded it — q_keyword_bm25_incr
    // tests merged serving, which compaction is spec-equal to but must
    // not replace under the gate)
    locally {
      val bm = BM25Index.defaultDir(sfDir)
      val segs = Paths.get(bm, "segments")
      // nonempty LISTING, not directory existence: an empty segments dir
      // (crashed append) would otherwise make every sweep log a no-op
      // fold forever, breaking idempotence
      val segCount = if (!Files.isDirectory(segs)) 0 else {
        val s = Files.list(segs)
        try s.iterator().asScala.size finally s.close()
      }
      if (segCount >= foldAtSegments) {
        BM25Index.compact(spark, bm)
        log += s"fold $bm (segments)"
      }
    }
    val serving = ServingStores.defaultDir(sfDir)
    def sweepLayout(name: String, full: String => Unit,
                    hot: String => Seq[Int]): Unit = {
      val d = s"$serving/$name"
      if (Files.isDirectory(Paths.get(d))) {
        if (ServingStores.hasTombstones(d)) {
          full(d); log += s"purge $d"
        } else {
          val h = hot(d)
          if (h.nonEmpty) log += s"fold $d buckets=${h.mkString(",")}"
        }
      }
    }
    for (name <- Seq("doc_postings", "doc_postings_incr", "doc_postings_upsert"))
      sweepLayout(name,
        d => ServingStores.compactPostings(spark, d),
        d => ServingStores.compactHotBuckets(spark, d, minFiles))
    val orderSorts = Seq(col("o_orderdate").desc)
    for (name <- Seq("orders_by_cust", "orders_by_cust_incr",
        "orders_by_cust_upsert"))
      sweepLayout(name,
        d => ServingStores.compactTimeline(spark, d, "o_custkey", orderSorts),
        d => ServingStores.compactHotTimeline(spark, d, "o_custkey",
          orderSorts, minFiles))
    // ROUTER RETRAIN (opt-in): the drift audits measured WHAT retraining
    // buys (`q_ann_drift_lloyd_big`: +0.095 recall@10 at production cell
    // counts — loss a rerank cannot recover); this is the hook that
    // DECIDES. [[RetrainPolicy.assess]]'s appended-mass proxy costs a
    // footer count per store, and past the threshold the rebuild runs
    // under the store lock. Opt-in (None default) because maintain is
    // wired into hash-gated serving chains where an implicit full
    // rebuild would be a surprising cost, and covering only the flat
    // IVF family here because it alone is SELF-CONTAINED (raw vectors
    // are the artifact — [[graft.similarity.IvfStore.rebuildFromSelf]]);
    // the compressed families (PQ/SQ8 codes cannot reconstruct their
    // corpus) retrain through RetrainPolicy.maybeRetrain with a
    // caller-supplied corpus. Stores built before the train-mass
    // contract are skipped (their next rebuild records one).
    retrainAt.foreach { t =>
      for (suffix <- Seq("", "__incr", "__auto")) {
        val d = graft.similarity.IvfStore.defaultDir(sfDir) + suffix
        if (Files.isDirectory(Paths.get(d)) && RetrainPolicy.hasTrainMass(d)) {
          val dec = RetrainPolicy.maybeRetrain(spark, d, t)(
            graft.similarity.IvfStore.rebuildFromSelf(spark, d))
          if (dec.retrain)
            log += f"retrain $d stale=${dec.staleFraction}%.3f"
        }
      }
    }
    gcOrphans(sfDir).foreach(o => log += s"gc $o")
    log.toSeq
  }

  /** Distinct parquet write jobs that contributed files to `dir` — the
    * fragmentation signal [[maintain]] folds on: Spark names every data
    * file `part-NNNNN-<job uuid>-…`, so distinct UUIDs count appends
    * since the last fold, independent of write parallelism. Walks
    * RECURSIVELY so partitioned tables (the bucketed byid forward
    * tables, cluster-partitioned vectors/codes) count the same way flat
    * ones do — a flat listing would read a partitioned store as
    * permanently unfragmented and silently kill its sweep.
    */
  private def writeGenerations(dir: Path): Int = {
    val re = "part-\\d+-([0-9a-f-]{36})".r
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .flatMap(p => re.findFirstMatchIn(p.getFileName.toString)
        .map(_.group(1)))
      .toSet.size
    finally s.close()
  }

  /** Reclaim rewrite leftovers: every atomic-swap rewrite
    * ([[graft.util.AtomicRewrite]], [[ServingStores]]' compaction/
    * rebucketing) materializes its new generation in a sibling
    * `<path>-rewrite-tmp` before touching the store, so a crash during
    * the write leaves the store fully valid plus an orphan tmp holding a
    * dead generation's bytes. This sweep deletes them — correctness
    * never depends on it (rewrites wipe their own tmp before writing),
    * it is the disk-reclaim half of crash recovery. Not safe to run
    * CONCURRENTLY with an in-flight rewrite (it would delete the tmp
    * being written; the rewrite's swap then fails loudly, store
    * untouched) — run it like [[truncate]], between jobs. Returns the
    * deleted roots so callers can log them.
    */
  def gcOrphans(sfDir: String): Seq[String] = {
    val tmps = storeDirs(sfDir).flatMap { root =>
      val p = Paths.get(root)
      if (!Files.isDirectory(p)) Nil
      else {
        val s = Files.walk(p)
        val orphans =
          try s.iterator().asScala
            .filter(q => Files.isDirectory(q) &&
              q.getFileName.toString.endsWith("-rewrite-tmp"))
            .toList
          finally s.close()
        orphans.foreach(deleteRecursively)
        orphans.map(_.toString)
      }
    }
    // legacy reclaim: whole store ROOTS orphaned by a defaultDir version
    // bump (v1's degenerate residual codebook; the pre-params.txt layouts
    // superseded when the ANN hyperparameters became persisted build
    // metadata). Default-path layout only: GRAFT_INDEX_DIR is a
    // user-chosen root (the family tag rides the path there too now —
    // StoreDirs — but the old flat env layout mixed store artifacts with
    // whatever else the user kept there, so a GC may not assume
    // ownership of anything under it). Each root
    // is swept ONLY if it actually looks like an orphaned ANN store —
    // every child is a store dir carrying the family's markers (a stamp
    // or one of the known sub-tables) — never on path name alone: a
    // name-only delete in a general-purpose GC routine could reap a
    // directory that was never ours.
    val legacyRoots = Seq("ivfpq-store-v1", "ivfpq-store-v2",
      "ivfpq-store-v3", "pq-store-v2", "ivf-store-v1", "ivf-store-v2",
      "sq8-store-v1", "srp-label-v1", "bm25-index-v3", "bm25-index-v4")
      .map(v => Paths.get(s"${sys.props("user.dir")}/target/$v"))
    val legacySwept =
      if (sys.env.contains("GRAFT_INDEX_DIR")) Nil
      else legacyRoots.filter(p => Files.isDirectory(p) && isAnnStoreRoot(p))
        .map { p => deleteRecursively(p); p.toString }
    tmps ++ legacySwept
  }

  /** True iff every child of `root` is a directory carrying an ANN-store
    * marker (source_stamp.txt, or a known sub-table dir) — the gate that
    * keeps the legacy-version GC from deleting a directory it cannot
    * verify it owns. An empty root passes (nothing but debris).
    */
  private def isAnnStoreRoot(root: Path): Boolean = {
    val markers = Set("source_stamp.txt", "codes.parquet", "codebook.parquet",
      "centroids.parquet", "byid.parquet", "vectors.parquet", "sig.parquet",
      "params.txt")
    val s = Files.list(root)
    val children = try s.iterator().asScala.toList finally s.close()
    children.forall { c =>
      Files.isDirectory(c) && {
        val cs = Files.list(c)
        try cs.iterator().asScala.exists(e =>
          markers.contains(e.getFileName.toString))
        finally cs.close()
      }
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try
        s.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
