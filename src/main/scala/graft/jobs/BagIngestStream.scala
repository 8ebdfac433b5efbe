package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType, TimestampType}

import graft.GraftSession
import graft.sources.rosbag.RosbagReader

/** Continuous bag ingest: the reference's queue-driven arrival model (SQS
  * message per uploaded bag -> Fargate task, main.py) as a Structured
  * Streaming file-watch job. New `.bag` files landing under `watchDir` are
  * discovered by the checkpointed file source, and each micro-batch runs
  * the SAME single-pass demux as the batch job — only file PATHS flow
  * through the stream; the bag bytes are read by the chunk-streaming
  * parser inside the batch, never materialized as a stream column.
  *
  * Delivery: foreachBatch is at-least-once, so each batch OVERWRITES its
  * own `<table>/batch=<id>/` subdirectory — a retried batch rewrites the
  * same directory instead of appending duplicates (effectively-once).
  * Readers see `batch` as a discovered partition column. The per-recording
  * `trajectory/` rollup is the batch job's only: a micro-batch holds
  * partial recordings.
  *
  * With PII regions, each batch's frames land blurred like the batch job's.
  * The regions are bounded to the bags of each batch before the blur, so
  * one regions table may cover the whole stream.
  *
  * The inputs that exist only with a batch id ([[BagIngest.StreamInputs]])
  * land as versioned SnapshotLake tables, one version per batch (a
  * redelivered batch re-reads as the same version), each row tagged with
  * its `ingest_batch`:
  *   <out>/frame_drift/  frame-brightness PSI against a frozen reference
  *   <out>/clip_drift/   clip-RMS PSI against a frozen reference
  *   <out>/cloud_drift/  per-sweep point-population PSI against a frozen reference
  *   <out>/sensor_sync/  camera frames vs clip and cloud timestamps per window
  * and `frameIndex` persists the dedup fingerprints to its own lake, which
  * makes `frame_dedup/` and `clip_dedup/` cross-batch.
  *
  * Producer contract (the standard file-source one): uploads must be
  * staged outside the watch glob (different directory or extension) and
  * RENAMED into place — a file discovered mid-copy would be parsed
  * truncated and marked as seen.
  */
object BagIngestStream {

  /** The binaryFile source schema (the source requires it verbatim). Only
    * `path` is ever SELECTED, and the format reads file bytes lazily per
    * requested column, so bag contents never enter the stream.
    */
  private val fileSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("modificationTime", TimestampType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("content", BinaryType)))

  def start(spark: SparkSession, watchDir: String, out: String, checkpoint: String,
      piiRegions: Option[DataFrame] = None, stages: BagIngest.Stages = BagIngest.Stages(),
      stream: BagIngest.StreamInputs = BagIngest.StreamInputs()): StreamingQuery =
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.bag")
      .schema(fileSchema)
      .load(watchDir)
      .select("path")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // bounded driver collect: one row per NEW bag file in this batch
        val paths = batch.collect().map(_.getString(0))
        if (paths.nonEmpty) {
          val sp = batch.sparkSession
          // per-path reads unioned (a comma in a filename must not be
          // treated as Hadoop's input-path delimiter)
          val msgs = paths.map(p => RosbagReader.messages(sp, p)).reduce(_ union _)
          // the batch job's optional stages ride per-batch too. Image
          // dedup has two modes: WITHOUT a frame index, groups are
          // within-batch only (the arriving recording's own bursts);
          // WITH --frame-index=LAKE, per-frame dHash fingerprints persist
          // to a versioned SnapshotLake probe index and the manifest
          // gains CROSS-BATCH canonical identity — a burst re-arriving in
          // a later batch collapses onto the landed canonical
          // (FrameDedupIndex, the text band guard's multimodal twin).
          // Voxel downsampling is per-cloud and thus batch-boundary-free
          // by construction.
          BagIngest.writeTablesOf(sp, msgs, out, writePng = false, piiRegions, stages,
            Some(BagIngest.StreamBatch(batchId, stream)))
        }
      }
      .start()

  def main(args: Array[String]): Unit = {
    val a = BagIngest.parseArgs(args.toSeq, stream = true)
    val spark = GraftSession.get()
    start(spark, a.paths(0), a.paths(1), a.paths(2), a.blurRegions.map(p => spark.read.parquet(p)),
      a.stages, BagIngest.StreamInputs(frameIndex = a.frameIndex)).awaitTermination()
  }
}
