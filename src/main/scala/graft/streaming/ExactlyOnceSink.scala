package graft.streaming

import org.apache.spark.sql.DataFrame

/** End-to-end exactly-once for a non-transactional sink — the
  * guarantee the reference buys with Kafka transactions
  * (`gmall-realtime/.../utils/MyKafkaUtils.java:34-39`:
  * `Semantic.EXACTLY_ONCE`, acks=-1). Structured Streaming's
  * `foreachBatch` contract is at-least-once: after a sink failure the
  * restarted query REPLAYS the failed micro-batch with the SAME
  * batchId. Exactly-once therefore = at-least-once replay +
  * batchId-keyed idempotent commit:
  *
  *   - each micro-batch writes to a private temp dir, then publishes
  *     by a single atomic rename to `batch=<batchId>`;
  *   - a replayed batchId finds the committed directory and SKIPS —
  *     a torn first attempt left only a temp dir, which the retry
  *     overwrites.
  *
  * Readers see each batch's rows exactly once regardless of how many
  * times the batch was attempted. This is the same two-phase shape as
  * Flink's transactional sink with the filesystem rename as the
  * commit record; on an object store the rename becomes a manifest
  * write, nothing else changes. */
object ExactlyOnceSink {

  /** Commit one micro-batch idempotently. Returns true if this call
    * performed the commit, false if `batchId` was already committed
    * (the replay-after-failure path). foreachBatch commits its
    * checkpoint per batch, so a legitimate replay is always of the
    * HIGHEST committed batchId; an existing `batch=<N>` dir with
    * commits beyond N means the outDir belongs to a different
    * checkpoint lineage (e.g. the checkpoint was cleared but the
    * outDir reused) — silently skipping would drop every new batch,
    * so that case fails loudly instead. */
  def commit(batch: DataFrame, outDir: String, batchId: Long): Boolean = {
    // all control-plane FS access through the Hadoop seam
    // (graft.IndexFs): java.io.File silently answers "nothing exists"
    // for hdfs:/s3a: outDirs — a replayed batch would then RE-commit
    // (duplicates, the one failure this sink exists to prevent) and
    // renameTo would fail every first commit
    val spark = batch.sparkSession
    val target = s"$outDir/batch=$batchId"
    if (graft.IndexFs.exists(spark, target)) {
      // rename-committed layout: the listing is ungated
      val maxCommitted = graft.GenLifecycle.versionIds(spark, outDir,
        "batch=", gated = false).max
      if (batchId < maxCommitted)
        throw new IllegalStateException(
          s"batch=$batchId already exists but commits reach batch=$maxCommitted: " +
            s"$outDir holds output from a different checkpoint lineage; " +
            "clear the outDir or restore the matching checkpoint")
      false
    } else {
      // record the sink schema ONCE (atomic sidecar): an empty batch
      // writes only _SUCCESS, and a reader over an all-empty history
      // must still get a typed empty frame instead of a
      // schema-inference failure. On every later commit the batch
      // schema must MATCH the sidecar — a silently evolved sink schema
      // would otherwise have readCommitted read every batch under the
      // stale first schema, dropping or nulling the new columns with
      // no error. Evolution is a deliberate act: fail loudly and let
      // the operator migrate the outDir.
      val ddlPath = s"$outDir/_schema.ddl"
      if (!graft.IndexFs.exists(spark, ddlPath))
        graft.IndexFs.writeUtf8Atomic(spark, ddlPath, batch.schema.toDDL)
      else {
        val recorded = graft.IndexFs.readUtf8(spark, ddlPath)
        if (recorded != batch.schema.toDDL)
          throw new IllegalStateException(
            s"sink schema changed for $outDir: recorded [$recorded] vs " +
              s"batch $batchId [${batch.schema.toDDL}]; committed batches " +
              "would read under the stale schema — migrate to a new outDir " +
              "(or rewrite the sidecar deliberately) instead")
      }
      val tmp = s"$outDir/.inflight-$batchId"
      batch.write.mode("overwrite").parquet(tmp)
      if (!graft.IndexFs.rename(spark, tmp, target))
        throw new java.io.IOException(s"commit rename failed for batch $batchId")
      true
    }
  }

  /** Streaming writer: checkpointed source offsets + idempotent
    * batch commit = end-to-end exactly-once. */
  def sink(df: DataFrame, outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) => { commit(batch, outDir, batchId); () }
    }

  /** Everything committed so far (inflight temp dirs invisible).
    * Before any batch has committed there is no schema to offer, so
    * the result is an empty zero-column frame. Committed batches read
    * under the sink's recorded `_schema.ddl` sidecar — NEVER inferred:
    * empty batches commit only a `_SUCCESS` marker, and inference over
    * file-less directories throws instead of contributing zero rows.
    * [[commit]] writes the sidecar before its first batch, so an outDir
    * with committed batches but no sidecar fails loudly. */
  def readCommitted(spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    val committed = graft.GenLifecycle.versionIds(spark, outDir,
        "batch=", gated = false)
      .map(id => s"$outDir/batch=$id")
    if (committed.isEmpty) spark.emptyDataFrame
    else {
      val ddl = s"$outDir/_schema.ddl"
      if (!graft.IndexFs.exists(spark, ddl))
        throw new IllegalStateException(
          s"missing $ddl: $outDir holds committed batches but no recorded sink schema")
      spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
          graft.IndexFs.readUtf8(spark, ddl)))
        .parquet(committed: _*)
    }
  }
}
