package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llmops.Packing

/** Continuous sequence packing — the streaming twin of
  * [[Packing.packSequences]]: each micro-batch of curated documents is
  * packed into fixed-length training sequences CONTINUING from the global
  * token offset where the previous batch ended, so the concatenated
  * placement maps of the stream are BIT-IDENTICAL to one batch run over the
  * same documents in the same order (StreamingPackingSpec pins it, restart
  * included). The shape a landing-zone pipeline runs: curation upstream,
  * packing at the sink, training sequences appear incrementally.
  *
  * Exactly-once state carry over at-least-once delivery (the
  * [[StreamingNearDup]] discipline):
  *  - `sink/batch_<id>` — the batch's placement rows, mode=overwrite so a
  *    re-delivered batch rewrites its dir byte-for-byte;
  *  - `storeDir/off_b<id>` — one-line text file holding the global token
  *    offset AFTER batch `id` (the next batch's start);
  *  - `storeDir/_APPLIED` — atomic pointer to the last fully-applied batch;
  *    applyBatch no-ops at-or-below it, and the base offset reads through
  *    the pointer, so a torn attempt's carry file is invisible until its
  *    re-delivery overwrites it.
  *
  * State is ONE long per batch — there is no per-key state to bottleneck,
  * because packing's only cross-batch dependency is "where did the token
  * stream end". Within a batch the placement is the shared
  * [[graft.core.RunningSum]] node over a range shuffle — arbitrarily large
  * batches pack in parallel.
  *
  * Ordering contract: sequences follow ARRIVAL order across batches (batch
  * N+1's documents pack after batch N's, whatever their ids), and `order`
  * only sorts WITHIN a batch. Batch-equivalence therefore needs the batch
  * run's order to match arrival order — the spec's fixture does; a
  * production pipeline reading an ordered landing zone gets it for free.
  */
object StreamingPacking {

  private val PTR = "_APPLIED"

  /** Test-only fault injection (RecoverySpec): invoked immediately before
    * the atomic pointer move — the claimed crash window, with the sink dir
    * and carry file already written but the commit pointer not yet moved.
    * No-op in production.
    */
  private[graft] var crashBeforePointer: () => Unit = () => ()

  def start(stream: DataFrame, textCol: String, idCol: String,
            storeDir: String, sinkDir: String, checkpointDir: String,
            seqLen: Long): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch.sparkSession, batch, textCol, idCol, storeDir, sinkDir, batchId, seqLen)
        ()
      }
      .start()

  /** Pack ONE batch continuing from the carried offset — idempotent on
    * `batchId`. Public so batch-side backfills run the stream's code path.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, textCol: String, idCol: String,
                 storeDir: String, sinkDir: String, batchId: Long, seqLen: Long): Unit = {
    val root = new java.io.File(storeDir); root.mkdirs()
    new java.io.File(sinkDir).mkdirs()
    val applied = appliedBatch(storeDir)
    if (applied.exists(_ >= batchId)) return // re-delivered: already committed

    val base = applied.map(endOffset(storeDir, _)).getOrElse(0L)
    val placed = Packing.packSequences(batch, textCol, idCol, seqLen, startOffset = base)
      .localCheckpoint() // two consumers: sink write + token total
    placed.write.mode("overwrite").parquet(s"$sinkDir/batch_$batchId")
    // end offset = base + all tokens this batch PLACED: every row's pieces
    // sum to its n_tokens, so summing piece_len is exact even when the
    // batch carries duplicate ids (a distinct on (id, n_tokens) would
    // collapse them and under-advance the carry); zero-token docs add
    // nothing by construction
    val batchTokens = placed.agg(coalesce(sum("piece_len"), lit(0L))).head().getLong(0)
    writeText(new java.io.File(root, s"off_b$batchId"), (base + batchTokens).toString)

    crashBeforePointer()
    val tmp = new java.io.File(root, s".$PTR.tmp")
    writeText(tmp, batchId.toString)
    java.nio.file.Files.move(tmp.toPath, new java.io.File(root, PTR).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Every placement row committed so far, read through the pointer. */
  def placements(spark: SparkSession, storeDir: String, sinkDir: String): DataFrame = {
    val applied = appliedBatch(storeDir).getOrElse(
      throw new IllegalStateException(s"no applied batches at $storeDir"))
    val dirs = Option(new java.io.File(sinkDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      .filter(_.getName.stripPrefix("batch_").toLong <= applied)
      .map(_.getPath).toSeq
    spark.read.parquet(dirs: _*)
  }

  private def endOffset(storeDir: String, batchId: Long): Long = {
    val f = new java.io.File(storeDir, s"off_b$batchId")
    new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.toLong
  }

  private def appliedBatch(storeDir: String): Option[Long] = {
    val ptr = new java.io.File(storeDir, PTR)
    if (!ptr.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(ptr.toPath)).trim.toLong)
  }

  private def writeText(f: java.io.File, s: String): Unit = {
    val out = new java.io.PrintWriter(f)
    try out.print(s) finally out.close()
  }
}
