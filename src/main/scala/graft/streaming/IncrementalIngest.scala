package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.StagedFixture
import graft.dedup.IncrementalDedup

/** Structured-Streaming integration of the incremental ingest gate —
  * how `graft.dedup.IncrementalDedup` actually runs on a live crawl:
  * documents arrive as micro-batches, each batch is screened against
  * the PERSISTED accepted-set artifacts, the batch's keepers are
  * merged in, and the next batch screens against the grown set.
  *
  * `foreachBatch` is the right sink: the screen is a batch join
  * against large persisted state (far beyond keyed-state-store
  * territory), and foreachBatch hands each micro-batch to exactly that
  * batch machinery while the streaming engine handles arrival,
  * ordering, and checkpointing.
  *
  * Artifacts are persisted as DELTAS (the seed, then one delta per
  * batch holding that batch's keepers only; a reader unions the
  * deltas): each batch WRITES O(batch) and never rewrites the
  * corpus-sized accepted set — the LSM shape every growing index uses.
  * Publishing a new delta directory is atomic, nothing is overwritten
  * in place, and a failed batch can re-screen against the deltas it
  * started from (effectively-once verdicts under retries).
  *
  * Scale shape (inherited from IncrementalDedup.screen): accepted
  * postings are semi-joined down to the batch's shingle footprint
  * before anything shuffles, so per-batch cost is bounded by the
  * BATCH, not the corpus. Verdicts append to a parquet sink per batch,
  * the natural audit log of an ingest gate.
  */
object IncrementalIngest {

  /** Run the ingest simulation over the fixture: the even docs are the
    * pre-accepted seed corpus; odd docs arrive in `nBatches` real
    * micro-batches split by ((doc_id − 1) div 2) mod nBatches (for
    * nBatches = 2 that is doc_id mod 4 == 1, then == 3). The split is
    * deterministic and scale-free, so a SQL oracle can replay every
    * stage exactly. Each arrival's files land between
    * `processAllAvailable()` calls, so every batch is its own
    * micro-batch.
    *
    * Each batch runs, in order: compaction, screen, pin, audit-log
    * write, keeper-delta publish. Compaction happens at batch START,
    * when the chain is about to be read, so the run's last delta is
    * never folded into an artifact nothing reads, and a crash between
    * batches leaves the raw chain authoritative.
    *
    * Returns one verdict row per odd doc: (doc_id, exact_of, near_of,
    * keep, arrival_batch). A later doc that duplicates an earlier
    * KEEPER is dropped; one that duplicates only an earlier REJECT is
    * kept (rejects never enter the accepted set) — the semantics that
    * distinguish accepted-set screening from corpus-wide dedup.
    *
    * @param compactEvery when > 0, a batch whose delta chain has
    *   reached this length first folds it into one artifact
    *   (IncrementalDedup.compact — row distinct, atomic publish); 0 =
    *   never compact (the read cost grows with the chain).
    */
  def ingest(spark: SparkSession, dir: String, threshold: Double,
      shingleK: Int, maxShingleDf: Int, nBatches: Int,
      compactEvery: Int = 0): DataFrame = {
    require(nBatches >= 1, s"ingest: nBatches=$nBatches must be >= 1")
    // cloned session: the caller's conf stays untouched. Width and AQE
    // are inherited: the screen's bucket pair expansion is
    // compute-bound, so a narrowed or fixed-width clone leaves cores
    // idle or replicates the work across mostly-empty tasks.
    val ss = spark.newSession()
    val docs = graft.Tables(ss, dir, "documents")
    def arrivalBatch(id: String): Column =
      (pmod(expr(s"($id - 1) div 2"), lit(nBatches)) + 1).cast("int")

    // fixture-pure staging, built once per fixture content: the seed
    // (even docs, accepted wholesale) and one arrival file set per batch
    val seed = StagedFixture.dir(
      StagedFixture.key(s"ingest_seed_k$shingleK", dir),
      "graft_ingest_seed") { t =>
      IncrementalDedup.save(IncrementalDedup.artifacts(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        shingleK), t)
    }
    val staged = StagedFixture.dir(
      StagedFixture.key(s"ingest_arrivals_n$nBatches", dir),
      "graft_ingest_arrivals") { t =>
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .withColumn("b", arrivalBatch("doc_id"))
        .coalesce(1).write.mode("overwrite")
        .partitionBy("b").parquet(t)
    }

    val work = Files.createTempDirectory("graft_ingest_run")
    try {
      val arrivals = work.resolve("arrivals")
      Files.createDirectories(arrivals)
      def arrive(b: Int): Unit = {
        val stageDir = Paths.get(staged, s"b=$b")
        // a batch with no docs stages no partition dir: the stream
        // sees one fewer micro-batch
        if (Files.isDirectory(stageDir)) {
          val listing = Files.list(stageDir)
          // copy under a .tmp name (invisible to the *.parquet glob)
          // and rename into place: a running source can list a plain
          // copy half-written
          try listing.filter(_.getFileName.toString.endsWith(".parquet"))
            .forEach { f =>
              val tmp = arrivals.resolve(s"b${b}_${f.getFileName}.tmp")
              Files.copy(f, tmp)
              Files.move(tmp, arrivals.resolve(s"b${b}_${f.getFileName}"),
                StandardCopyOption.ATOMIC_MOVE)
            }
          finally listing.close()
        }
      }

      // the persisted accepted set = union of all published deltas.
      // Delta names come from a batch counter, not deltaPaths.size:
      // compaction collapses the list, and a size-derived name would
      // collide with an earlier batch's dir.
      var deltaPaths = Vector(seed)
      var batchNo = 0
      var compactNo = 0
      // each batch's pinned verdicts, unioned after the stream stops
      val verdictFrames =
        scala.collection.mutable.ArrayBuffer.empty[DataFrame]

      val q = ss.readStream
        .schema(docs.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(arrivals.toString)
        .writeStream
        // inside the run dir: Spark keeps its own temporary checkpoint
        // dir when a query fails
        .option("checkpointLocation", work.resolve("checkpoint").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val s2 = batch.sparkSession
          val sc = s2.sparkContext
          batchNo += 1
          val accepted =
            if (compactEvery > 0 && deltaPaths.size >= compactEvery) {
              compactNo += 1
              val p = work.resolve(s"compacted_$compactNo").toString
              sc.setJobDescription(s"ingest: compact $compactNo")
              val folded = IncrementalDedup.compact(s2, deltaPaths, p)
              deltaPaths = Vector(p)
              folded
            } else IncrementalDedup.load(s2, deltaPaths: _*)
          sc.setJobDescription(s"ingest: screen b$batchNo")
          val (verdicts, bKeys) = IncrementalDedup.screenWithKeys(batch,
            accepted, "doc_id", "text", threshold, shingleK, maxShingleDf,
            ordered = false)
          // pinned: the screen executes once for the audit write, the
          // keeper publish and the result
          val v = verdicts.withColumn("arrival_batch", arrivalBatch("id"))
            .localCheckpoint()
          // the audit log partitions BY BATCH, so a per-batch audit
          // scans O(batch), not the whole log
          sc.setJobDescription(s"ingest: audit b$batchNo")
          v.write.parquet(work.resolve(s"verdicts/b$batchNo").toString)
          // publish ONLY this batch's keepers as the next delta: the
          // screen's own batch postings, filtered to the keepers
          sc.setJobDescription(s"ingest: publish b$batchNo")
          val next = work.resolve(s"artifacts_d$batchNo").toString
          IncrementalDedup.save(IncrementalDedup.Artifacts(
            bKeys.join(v.filter(col("keep")).select(col("id").as("doc_id")),
              col("id") === col("doc_id"), "left_semi")), next)
          deltaPaths :+= next
          verdictFrames += v
          sc.setJobDescription(null)
        }
        .start()
      try for (b <- 1 to nBatches) { arrive(b); q.processAllAvailable() }
      finally q.stop()

      require(verdictFrames.nonEmpty,
        s"ingest: no micro-batch arrived from $dir — the fixture has no " +
          "odd doc_id to stage as an arrival")
      // the verdict frames are pinned blocks, not files: the result
      // outlives the run dir's delete below
      verdictFrames.reduce(_.unionByName(_))
        .select(col("id").as("doc_id"), col("exact_of"), col("near_of"),
          col("keep"), col("arrival_batch"))
        .orderBy(col("doc_id"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }
}
