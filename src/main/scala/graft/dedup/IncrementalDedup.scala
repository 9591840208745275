package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental ingest dedup — the production pattern behind the
  * `dd_incremental` query: every new crawl batch is screened against
  * everything already ACCEPTED, and the accepted set itself is never
  * re-paired. The accepted side lives as ONE persisted postings
  * artifact, so each ingest round loads it, screens the (small) batch,
  * and merges the keepers back:
  *
  *   artifacts → save ─┐
  *                     ├→ screen(batch) → verdicts → accept(kept) → save
  *   load ─────────────┘
  *
  * Screening layers, same as a real ingest gate:
  *   1. exact — md5(content) equality against any accepted doc, or an
  *      earlier (smaller-id) batch doc;
  *   2. near — shingle-Jaccard >= threshold via one inverted-index
  *      bucket pass. A batch doc pairs with EVERY accepted doc in the
  *      bucket (id order irrelevant — the accepted set always wins)
  *      and with earlier batch docs; accepted–accepted pairs are never
  *      generated.
  *
  * Both layers live in the SAME key space (r18, the r17 verdict's
  * top lever): a posting is (id, key, n) where key is either the
  * content-fingerprint bucket `F:<md5>` or a shingle bucket
  * `G:<gram>`. One batch expansion feeds both layers, ONE corpus-side
  * pass (scan + footprint semi-join) serves both verdict joins, and
  * one bucket aggregation emits exact candidates and near pairs into
  * a single verdict aggregation — r17's shape made two corpus-side
  * passes (a full fingerprint join + a postings semi-join) and ran
  * the batch expansion up to four times inside one screen plan.
  *
  * Scale shape: the postings artifact is the big side and it is ONLY
  * scanned and footprint-pruned — the quadratic term is bounded by
  * batch bucket occupancy, not corpus size. Fingerprint buckets never
  * collect their (possibly content-duplicate-sized) accepted
  * occupants: the accepted side of an F bucket pre-aggregates to its
  * MIN id inside the same hash aggregate, so the only per-bucket
  * collection is batch ids (exact layer, batch-bounded) and capped
  * shingle entries (near layer). The same hot-shingle cap as
  * `dd_ngram_jaccard` applies (G buckets over `maxShingleDf` are
  * dropped whole, with the identical exactness contract: a pair
  * missed this way is boilerplate the exact layer already catches;
  * F buckets are exact-layer and never capped).
  */
object IncrementalDedup {

  /** The persisted accepted-set state: unified postings (id, key, n)
    * — key = `F:<md5(content)>` or `G:<shingle>`, n = the doc's
    * shingle-set size (carried per row so screening never rescans
    * content; informational on F rows).
    */
  final case class Artifacts(keys: DataFrame)

  /** Build artifacts from a document frame — one pass over the text:
    * md5 + shingle set per doc, exploded into the unified key space
    * (position 0 of the concatenated array is the fingerprint).
    * Null-text docs emit no postings at all (concat propagates the
    * null array), matching the old two-artifact shape's observable
    * behavior: a null fp never matched and null shingles were dropped.
    */
  def artifacts(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3): Artifacts = {
    val keyed = docs
      .select(col(idCol).as("id"),
        md5(col(textCol).cast("binary")).as("fp"),
        graft.functions.WordShingles(col(textCol), shingleK).as("gs"))
      .select(col("id"), size(col("gs")).as("n"),
        posexplode(concat(array(col("fp")), col("gs"))))
      .select(col("id"),
        when(col("pos") === 0, concat(lit("F:"), col("col")))
          .otherwise(concat(lit("G:"), col("col"))).as("key"),
        col("n"))
    Artifacts(keyed)
  }

  def save(a: Artifacts, path: String): Unit =
    a.keys.write.mode("overwrite").parquet(s"$path/keys")

  /** The union of the artifacts saved at `paths`, read as one scan. */
  def load(spark: SparkSession, paths: String*): Artifacts =
    Artifacts(spark.read.parquet(paths.map(p => s"$p/keys"): _*))

  /** Screen a batch against the accepted artifacts. Returns one row
    * per batch doc: (id, exact_of, near_of, keep) — `exact_of` /
    * `near_of` are the smallest qualifying prior doc (accepted docs
    * and earlier batch docs all qualify), null if none.
    *
    * Plan shape (the whole point of the unified key space):
    *   1. the batch expands ONCE into (id, key, n) and is pinned
    *      (lazy localCheckpoint — materialized by the first action, no
    *      separate eager job; measured r18: eager cost dd_incremental
    *      +0.14 s flat) — the expansion feeds the key footprint and
    *      the bucket union without re-running md5/shingling;
    *   2. the accepted postings make ONE pass: scan → left-semi join
    *      to the (small, broadcastable) footprint — keys no batch doc
    *      carries can never produce a verdict, so the shuffle is
    *      bounded by the batch's bucket footprint, not the corpus;
    *   3. one groupBy(key) builds every bucket: F buckets reduce the
    *      accepted side to min(id) and collect only BATCH ids (sorted,
    *      so each batch doc's earliest batch predecessor is element 1);
    *      G buckets collect (id, n, isb) entries for the Jaccard pairs;
    *   4. one explode emits exact candidates (ex=true) and near pair
    *      grams (ex=false) into one stream; one pair-level count + one
    *      groupBy(b_id) produce both verdict columns together.
    * Emission shape measured, not assumed (r16): a 2-field pair
    * struct with the doc sizes joined from a dim AFTER the count
    * looked 2× faster in isolation, but in the full screen the dim
    * re-executed the pruned postings pipeline and added exchanges —
    * carrying n on every emitted pair keeps the near layer a single
    * self-contained aggregation tree; it stays.
    */
  def screen(batch: DataFrame, accepted: Artifacts,
      idCol: String, textCol: String, threshold: Double = 0.5,
      shingleK: Int = 3, maxShingleDf: Int = 64,
      ordered: Boolean = true): DataFrame =
    screenWithKeys(batch, accepted, idCol, textCol, threshold, shingleK,
      maxShingleDf, ordered)._1

  /** [[screen]] plus the batch's own pinned postings (id, key, n) —
    * for callers that publish the keepers' artifact delta afterwards:
    * `bKeys` filtered to the keeper ids is row-for-row
    * `artifacts(kept docs)`, so the publisher reuses the expansion the
    * screen already materialized instead of re-scanning the batch and
    * re-running md5/shingling (one fewer corpus-side pass per ingest
    * batch).
    */
  def screenWithKeys(batch: DataFrame, accepted: Artifacts,
      idCol: String, textCol: String, threshold: Double = 0.5,
      shingleK: Int = 3, maxShingleDf: Int = 64,
      ordered: Boolean = true): (DataFrame, DataFrame) = {
    // (1) the shared batch expansion, executed exactly once
    val bKeys = artifacts(batch, idCol, textCol, shingleK).keys
      .localCheckpoint(false)
    // no distinct on the footprint: left-semi dedups probe-side keys
    // itself, and the distinct was a whole extra exchange+aggregate
    // stage on a frame that is already batch-bounded
    val footprint = bKeys.select(col("key"))

    // (2) THE corpus-side pass
    val pruned = accepted.keys.join(footprint, Seq("key"), "left_semi")
    val tagged = pruned
      .select(col("key"),
        struct(col("id"), col("n"), lit(false).as("isb")).as("e"))
      .unionByName(bKeys.select(col("key"),
        struct(col("id"), col("n"), lit(true).as("isb")).as("e")))

    // (3) every bucket in one hash aggregate. F buckets must never
    // collect their accepted occupants (a viral exact-duplicate page
    // makes that corpus-sized); min() is all the exact layer needs.
    val fRow = col("key").startsWith("F:")
    val buckets = tagged.groupBy(col("key")).agg(
      min(when(fRow && !col("e.isb"), col("e.id"))).as("acc_min"),
      sort_array(collect_list(when(fRow && col("e.isb"), col("e.id"))))
        .as("bids"),
      collect_list(when(!fRow, col("e"))).as("ds"))

    // (4) unified emission. Exact: batch doc at sorted position i
    // pairs with the smallest accepted occupant and (i > 0) the
    // bucket's smallest batch id — least() skips nulls; docs with no
    // prior emit nothing. Near: the capped pair expansion — the cap
    // lives INSIDE the pair filter so an over-cap bucket emits an
    // empty (typed) array instead of needing a typed empty literal.
    val exactPairs = filter(
      transform(col("bids"), (b, i) => struct(
        when(i > lit(0), least(col("acc_min"), element_at(col("bids"), 1)))
          .otherwise(col("acc_min")).as("a_id"),
        lit(0).as("na"), b.as("b_id"), lit(0).as("nb"),
        lit(true).as("ex"))),
      p => p("a_id").isNotNull)
    val bucketOk: Column = size(col("ds")).between(2, maxShingleDf)
    val nearPairs = flatten(transform(col("ds"), bb =>
      transform(
        filter(col("ds"), aa => bucketOk && bb("isb") &&
          (!aa("isb") || aa("id") < bb("id"))),
        aa => struct(aa("id").as("a_id"), aa("n").as("na"),
          bb("id").as("b_id"), bb("n").as("nb"), lit(false).as("ex")))))

    val verdicts = buckets
      .select(explode(concat(exactPairs, nearPairs)).as("p"))
      .select(col("p.a_id"), col("p.na"), col("p.b_id"), col("p.nb"),
        col("p.ex"))
      .groupBy(col("a_id"), col("na"), col("b_id"), col("nb"), col("ex"))
      .agg(count(lit(1)).as("n_inter"))
      .filter(col("ex") || col("n_inter").cast("double") /
        (col("na") + col("nb") - col("n_inter")) >= threshold)
      .groupBy(col("b_id"))
      .agg(min(when(col("ex"), col("a_id"))).as("exact_of"),
        min(when(!col("ex"), col("a_id"))).as("near_of"))

    val out = batch.select(col(idCol).as("b_id"))
      .join(verdicts, Seq("b_id"), "left")
      .select(col("b_id").as("id"), col("exact_of"), col("near_of"),
        (col("exact_of").isNull && col("near_of").isNull).as("keep"))
    // ordered=false skips the global sort (a sampling pass + range
    // exchange per call) for callers that re-order downstream anyway,
    // e.g. the streaming ingest gate's per-batch verdict log
    (if (ordered) out.orderBy(col("id")) else out, bKeys)
  }

  /** Merge the kept batch docs into the accepted artifacts (the next
    * round's screen input). Callers persist via `save` between rounds.
    */
  def accept(a: Artifacts, keptBatch: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3): Artifacts =
    Artifacts(a.keys.unionByName(
      artifacts(keptBatch, idCol, textCol, shingleK).keys))

  /** LSM-style maintenance for delta-published artifact state (the
    * `streaming.IncrementalIngest` layout — `d0` seed + one delta per
    * ingested batch): fold every delta into ONE artifact at
    * `outPath`. Run periodically so reader-side fan-in (one parquet
    * listing per delta) stays bounded.
    *
    * Semantics: the row-DISTINCT union. Deltas are disjoint by
    * construction (each doc is accepted exactly once), so normally
    * this is plain concatenation — but when a retry anomaly DID
    * double-publish a doc, distinct restores the state a single
    * publish would have left (duplicate postings would otherwise
    * double-count bucket intersections in screen's near layer).
    * Screening against the compacted set is row-for-row the same as
    * against the delta union on both shapes (IncrementalIngestSpec).
    *
    * Durability: writes land in a sibling `.compact-tmp` directory and
    * publish via ONE rename through the path's Hadoop FileSystem — so
    * the contract holds on the storage the artifacts actually live on
    * (local FS and HDFS rename atomically; an object store without
    * atomic directory rename degrades to copy, and there the caller
    * should publish via a manifest instead). A crash mid-compaction
    * leaves the raw deltas untouched and the target absent (a stale
    * tmp from a crashed run is deleted and rebuilt on retry), so
    * readers can never observe a partial compacted artifact. The
    * target must not already exist: compaction never overwrites
    * published state in place — the caller swaps its delta list to the
    * new path only after this returns, and deleting (or keeping) the
    * old deltas is a separate, already-safe step.
    */
  def compact(spark: SparkSession, deltaPaths: Seq[String],
      outPath: String): Artifacts = {
    require(deltaPaths.nonEmpty, "compact needs at least one delta")
    val target = new org.apache.hadoop.fs.Path(outPath)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(target),
      s"compact: target $outPath already exists — compaction never " +
        "overwrites published state in place")
    val merged = load(spark, deltaPaths: _*)
    val tmp = new org.apache.hadoop.fs.Path(target.getParent,
      target.getName + ".compact-tmp")
    fs.delete(tmp, true)
    save(Artifacts(merged.keys.distinct()), tmp.toString)
    require(fs.rename(tmp, target),
      s"compact: publish rename $tmp -> $target failed")
    // the schema is known: no inference pass over the new artifact
    Artifacts(spark.read.schema(merged.keys.schema)
      .parquet(s"$outPath/keys"))
  }
}
