package graft.sources.rosbag

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark-native ROS bag source (SURVEY.md §2.B `rosbag_source`).
  *
  * Layout: `binaryFile` scan -> one task per bag -> per-partition demux into
  * a normalized message table, then typed per-topic views. Bags are
  * independent units, so this parallelizes embarrassingly across 100 TB of
  * files; everything after the demux is ordinary Catalyst (pruning, windows,
  * aggregation).
  *
  * Semantics mirror the reference's extraction pipeline
  * (service/app/bagstream.py + main.py): typed rows for
  * Image/LaserScan/Odometry/Wrench/std_msgs topics, per-camera frame
  * numbering, ISO time, and the per-recording mp4/frame manifest.
  */
object RosbagReader {

  final case class RawMessage(path: String, topic: String, datatype: String, time_ns: Long,
      data: Array[Byte], msg_def: String)

  /** Which messages a typed view reads, by datatype and by whether the
    * message's connection carries a message_definition. The views filter
    * with it, and the ingest's type census asks it whether a bag holds
    * anything a view would read. */
  private[graft] type Reads = (String, Boolean) => Boolean

  private[graft] val readsImages: Reads = (t, _) => t == "sensor_msgs/Image" || t == "sensor_msgs/CompressedImage"
  private[graft] val readsLaser: Reads = (t, _) => t == "sensor_msgs/LaserScan"
  private[graft] val readsAudioData: Reads = (t, _) =>
    t == "audio_common_msgs/AudioData" || t == "audio_common_msgs/AudioDataStamped"
  private[graft] val readsOdometry: Reads = (t, _) => t == "nav_msgs/Odometry"
  private[graft] val readsWrench: Reads = (t, _) => t == "geometry_msgs/Wrench"
  // hand-coded decoders for the common types; other std_msgs flow through
  // the dynamic genericMessages path when they carry a message_definition,
  // and land in std_msgs with a NULL value (honest "undecodable") when they
  // don't
  private[graft] val readsStdMsgs: Reads = (t, hasDef) => t.startsWith("std_msgs/") &&
    (t == "std_msgs/String" || t == "std_msgs/Int32" || t == "std_msgs/Float64" || !hasDef)
  private[graft] val readsGeneric: Reads = (_, hasDef) => hasDef

  private def reading(r: Reads): RawMessage => Boolean = m => r(m.datatype, m.msg_def.nonEmpty)

  /** All messages of all bags under `path`, demuxed — streaming: each task
    * opens its bag as a stream (PortableDataStream) and the parser holds at
    * most one chunk + one message in memory, so multi-GB bags neither hit
    * the 2 GiB byte-array cap nor need bag-sized heap.
    */
  def messages(spark: SparkSession, path: String): Dataset[RawMessage] = {
    import spark.implicits._
    val rdd = spark.sparkContext.binaryFiles(path)
      .flatMap { case (p, pds) =>
        val in = new java.io.BufferedInputStream(pds.open(), 1 << 20)
        // close at task end even if a limit/take abandons the iterator early
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        RosbagFormat.iterator(in).map(m =>
          RawMessage(p, m.topic, m.datatype, m.timeNs, m.data, m.msgDef))
      }
    spark.createDataset(rdd)
  }

  /** Dynamic-schema fallback for topics with no hand-coded deserializer —
    * the reference's generic slot-walk (process_topic, bagstream.py:322):
    * fields are decoded from each connection's message_definition and land
    * as a (slot-path -> value) map column; `genericTable` pivots them to a
    * wide per-topic table like the reference's per-topic CSVs.
    */
  def genericMessages(spark: SparkSession, path: String): DataFrame =
    genericMessagesOf(spark, messages(spark, path))

  def genericMessagesOf(spark: SparkSession, msgs: Dataset[RawMessage]): DataFrame = {
    import spark.implicits._
    withIso(msgs
      .filter(reading(readsGeneric))
      .mapPartitions { it =>
        // definition parse cached per (datatype, definition) within the
        // partition: one datatype may arrive under several definitions
        val cache = scala.collection.mutable.Map[(String, String), Map[String, Seq[RosMsgDef.Field]]]()
        it.map { m =>
          val types = cache.getOrElseUpdate((m.datatype, m.msg_def),
            RosMsgDef.parse(m.datatype, m.msg_def))
          val fields = RosMsgDef.deserialize(m.datatype, types, m.data).toMap
          (m.path, m.topic, m.datatype, m.time_ns, fields)
        }
      }
      .toDF("bag", "topic", "datatype", "time_ns", "fields"))
  }

  /** Hard cap on inferred columns: schema inference collects the distinct
    * slot-key set to the driver, and a pathological message definition
    * (or a corrupted msg_def) must not be able to materialize an unbounded
    * column list there.
    */
  private val MaxInferredColumns = 10000

  /** Wide table for one topic: every slot becomes a string column (dynamic
    * schema, driver collects only the key set — one tiny aggregate, bounded
    * by [[MaxInferredColumns]]).
    */
  def genericTable(spark: SparkSession, path: String, topic: String): DataFrame = {
    val msgs = genericMessages(spark, path).filter(col("topic") === topic)
    val keys = msgs.select(explode(map_keys(col("fields"))).as("k"))
      .distinct().limit(MaxInferredColumns + 1).collect().map(_.getString(0)).sorted
    require(keys.length <= MaxInferredColumns,
      s"topic $topic has over $MaxInferredColumns distinct slots; refusing to infer a schema that wide")
    msgs.select(
      col("bag") +: col("topic") +: col("time_ns") +: col("iso_time") +:
        keys.map(k => col("fields").getItem(k).as(k)): _*)
  }

  private def withIso(df: DataFrame): DataFrame =
    df.withColumn("iso_time",
      date_format(timestamp_micros(call_function("div", col("time_ns"), lit(1000L))), "yyyy-MM-dd'T'HH:mm:ss"))

  /** sensor_msgs/Image topics -> frame table with per-topic frame numbering
    * and the reference's PNG naming scheme (bagstream.py:252). The pixel
    * payload stays an opaque binary column for graft.multimodal.
    */
  def images(spark: SparkSession, path: String): DataFrame =
    imagesOf(spark, messages(spark, path))

  def imagesOf(spark: SparkSession, msgs: Dataset[RawMessage]): DataFrame = {
    import spark.implicits._
    val rows = msgs
      .filter(reading(readsImages))
      .map { m =>
        if (m.datatype == "sensor_msgs/Image") {
          val img = RosMessages.image(m.data)
          (m.path, m.topic, m.time_ns, img.width, img.height, img.encoding, img.step, img.data)
        } else {
          // CompressedImage (png/jpeg payload — what bandwidth-limited rigs
          // record): decode map-side to the SAME raw channels-last frame
          // convention as the raw-Image rows, so everything downstream
          // (PII blur, resize, PNG landing, mp4 manifest) is type-blind to
          // how the camera topic was recorded. Decode failures throw — a
          // corrupt frame must surface in ingest, not land as garbage.
          val c = RosMessages.compressedImage(m.data)
          val d = graft.multimodal.PngDecoder.decode(c.data)
          (m.path, m.topic, m.time_ns, d.width.toLong, d.height.toLong,
            d.encoding, d.step.toLong, d.pixels)
        }
      }
      .toDF("bag", "topic", "time_ns", "width", "height", "encoding", "step", "pixels")
    val w = Window.partitionBy("bag", "topic").orderBy("time_ns")
    withIso(rows)
      .withColumn("frame_no", row_number().over(w) - 1)
      .withColumn("file_name",
        concat(regexp_replace(col("topic"), "^/", ""), lit("-"),
          regexp_replace(col("iso_time"), ":", "_"), lit("-"),
          format_string("%04d", col("frame_no")), lit(".png")))
  }

  /** sensor_msgs/LaserScan -> the reference's laser CSV columns
    * (bagstream.py:271). */
  def laserScans(spark: SparkSession, path: String): DataFrame =
    laserScansOf(spark, messages(spark, path))

  def laserScansOf(spark: SparkSession, msgs: Dataset[RawMessage]): DataFrame = {
    import spark.implicits._
    withIso(msgs
      .filter(reading(readsLaser))
      .map { m =>
        val l = RosMessages.laserScan(m.data)
        (m.path, m.topic, m.time_ns, l.header.seq, l.header.frameId, l.angleMin, l.angleMax,
          l.angleIncrement, l.timeIncrement, l.scanTime, l.rangeMin, l.rangeMax, l.ranges)
      }
      .toDF("bag", "topic", "time_ns", "seq", "frame_id", "angle_min", "angle_max",
        "angle_increment", "time_increment", "scan_time", "range_min", "range_max", "ranges"))
  }

  /** PointCloud2 layout guards, shared by BOTH cloud views so they can
    * never disagree about a corrupt bag: rows advance by row_step, points
    * within a row by point_step — a spec-valid organized cloud may pad
    * rows (row_step > width*point_step), and indexing by
    * data.length/point_step would decode phantom points from the padding
    * and misalign every row after the first. row_step = 0 (common from
    * unorganized-cloud producers) means densely packed. Returns the
    * effective row step; throws on a layout the payload cannot hold.
    */
  private def validateCloudLayout(topic: String, c: RosMessages.PointCloud2Msg): Int = {
    // The wire dims are UNSIGNED uint32 carried as Long — a dim past
    // Int.MaxValue cannot be addressed inside a <2 GB payload, and a bare
    // .toInt would wrap it NEGATIVE, silently skipping both the payload
    // check and decoding while n_points reports a huge value. All
    // arithmetic below stays in Long until the dims are proven in range.
    def dim(name: String, v: Long): Int = {
      require(v <= Int.MaxValue,
        s"PointCloud2 on $topic: $name $v exceeds Int.MaxValue — corrupt layout")
      v.toInt
    }
    val h = dim("height", c.height)
    val wd = dim("width", c.width)
    val step = dim("point_step", c.pointStep)
    // point_step = 0 with declared points would make every payload check
    // pass trivially and decode h*w phantom points all read from offset 0
    require(h.toLong * wd == 0 || step > 0,
      s"PointCloud2 on $topic: point_step 0 with ${h}x$wd declared points " +
        "— corrupt layout")
    val rowStepL = if (c.rowStep > 0) c.rowStep else wd.toLong * step
    require(rowStepL >= wd.toLong * step,
      s"PointCloud2 on $topic: row_step $rowStepL < width x point_step " +
        s"($wd x $step) — corrupt layout")
    require(h == 0 || wd == 0 ||
      (h - 1).toLong * rowStepL + wd.toLong * step <= c.data.length,
      s"PointCloud2 on $topic: declared ${h}x$wd points exceed the " +
        s"${c.data.length}-byte payload (row_step $rowStepL, point_step $step)")
    dim("row_step", rowStepL)
  }

  /** sensor_msgs/PointCloud2 -> one row per CLOUD: shape/layout metadata,
    * the self-describing field table, and the packed point payload as an
    * opaque binary column (the images convention — decode rides a later,
    * explicitly-requested pass). The lidar half of an AV rig's sensor
    * volume; the reference extracts cameras only, so this is
    * beyond-parity like the bz2/lz4 chunk codecs.
    */
  def pointClouds(spark: SparkSession, path: String): DataFrame =
    pointCloudsOf(spark, messages(spark, path))

  def pointCloudsOf(spark: SparkSession, msgs: Dataset[RawMessage]): DataFrame = {
    import spark.implicits._
    withIso(msgs
      .filter(_.datatype == "sensor_msgs/PointCloud2")
      .map { m =>
        val c = RosMessages.pointCloud2(m.data)
        // the cloud's declared shape, not data.length/point_step: a spec-
        // valid organized cloud pads rows to row_step, and padding bytes
        // are NOT points. Validated against the payload HERE too — the
        // metadata table and the point view must agree about a corrupt
        // bag (a truncated cloud must not silently report phantom
        // n_points while the point view rejects it loudly).
        validateCloudLayout(m.topic, c)
        (m.path, m.topic, m.time_ns, c.header.seq, c.header.frameId,
          c.height, c.width, c.height * c.width, c.pointStep, c.isBigendian, c.isDense,
          c.fields.map(f => (f.name, f.offset, f.datatype, f.count)), c.data)
      }
      .toDF("bag", "topic", "time_ns", "seq", "frame_id", "height", "width",
        "n_points", "point_step", "is_bigendian", "is_dense", "fields", "data"))
  }

  /** sensor_msgs/PointCloud2 -> one row per POINT: (x, y, z) resolved
    * through each cloud's own field table (offset + datatype per channel
    * — any numeric width, either endianness), `intensity` NULL when the
    * rig doesn't record one. A cloud missing an x/y/z channel fails
    * loudly (ingest integrity, the images-decode convention).
    *
    * Scale shape: one flatMap off the demux scan — per-bag tasks, no
    * shuffle; the ~100× row fan-out streams through the iterator, never
    * materializing a cloud's points in memory beyond its own binary blob.
    */
  def pointCloudPoints(spark: SparkSession, path: String): DataFrame =
    pointCloudPointsOf(spark, messages(spark, path))

  def pointCloudPointsOf(spark: SparkSession, msgs: Dataset[RawMessage]): DataFrame = {
    import spark.implicits._
    msgs
      .filter(_.datatype == "sensor_msgs/PointCloud2")
      .flatMap { m =>
        val c = RosMessages.pointCloud2(m.data)
        def fieldOf(n: String) = c.fields.find(_.name == n)
        def required(n: String) = fieldOf(n).getOrElse(throw new IllegalArgumentException(
          s"PointCloud2 on ${m.topic}: missing required field '$n' " +
            s"(has: ${c.fields.map(_.name).mkString(", ")})"))
        val (fx, fy, fz) = (required("x"), required("y"), required("z"))
        val fi = fieldOf("intensity")
        val rowStep = validateCloudLayout(m.topic, c)
        // in-range after validation — the guard rejects unsigned dims
        // past Int.MaxValue before any truncation
        val step = c.pointStep.toInt
        val h = c.height.toInt
        val wd = c.width.toInt
        val bb = RosMessages.pointBuffer(c.data, c.isBigendian)
        (0 until h).iterator.flatMap { r =>
          val rowBase = r * rowStep
          (0 until wd).iterator.map { j =>
            val base = rowBase + j * step
            (m.path, m.topic, m.time_ns, r.toLong * wd + j,
              RosMessages.pointValue(bb, base, fx),
              RosMessages.pointValue(bb, base, fy),
              RosMessages.pointValue(bb, base, fz),
              fi.map(f => RosMessages.pointValue(bb, base, f)))
          }
        }
      }
      .toDF("bag", "topic", "time_ns", "point_idx", "x", "y", "z", "intensity")
  }

  /** The stream-property columns an AudioInfo message contributes,
    * struct-packed so the per-namespace set stays one bounded
    * collect_set (a namespace legitimately repeats its info message —
    * audio_capture latches and republishes — but two DIFFERENT configs
    * under one namespace make every data message ambiguous). */
  private val AudioPcmFormats = Set("S16LE")
  private val AudioPcmCodings = Set("", "raw", "wave")

  /** audio_common_msgs/AudioData(+Stamped) topics -> the `clips` table:
    * one row per audio buffer message with the stream properties
    * (sample_rate, channels) resolved from the namespace-sibling
    * AudioInfo topic (the public audio_capture convention: `<ns>/audio`
    * data beside `<ns>/audio_info`), per-topic clip numbering (the
    * frame_no convention), and the PCM payload as an opaque binary
    * column feeding graft.multimodal.AudioOps unchanged.
    *
    * Ingest-integrity policy (the loud-failure convention of the image
    * and cloud demuxes): a data topic with NO AudioInfo in its namespace
    * cannot be interpreted (unknown rate/width) and fails the job; so do
    * two CONFLICTING infos under one namespace, and any non-PCM16LE
    * format (compressed codings — mp3/aac — would need a codec library;
    * landing bytes under a wrong sample interpretation would corrupt the
    * lake silently, which is strictly worse than stopping).
    *
    * `clip_id` is a 64-bit label (xxhash64 of the identity key) for the
    * clip_id-keyed per-row kernels (spectral/features/segment, where a
    * collision is harmless); identity-CRITICAL paths (near-dup groups,
    * the streaming dedup guard) key on (bag, topic, time_ns) itself.
    */
  def audioClips(spark: SparkSession, path: String): DataFrame =
    audioClipsOf(spark, messages(spark, path))

  def audioClipsOf(spark: SparkSession, msgs: Dataset[RawMessage]): DataFrame = {
    import spark.implicits._
    val nsOf = (topic: org.apache.spark.sql.Column) =>
      regexp_extract(topic, "^(.*)/[^/]+$", 1)
    val data = msgs
      .filter(reading(readsAudioData))
      .map { m =>
        val pcm =
          if (m.datatype == "audio_common_msgs/AudioData") RosMessages.audioData(m.data)
          else RosMessages.audioDataStamped(m.data)._2
        (m.path, m.topic, m.time_ns, pcm)
      }
      .toDF("bag", "topic", "time_ns", "pcm")
    // the per-(bag, namespace) info set: tiny (one latched config per
    // rig topic) — broadcast to the data scan, never a real shuffle side
    val infos = msgs
      .filter(_.datatype == "audio_common_msgs/AudioInfo")
      .map { m =>
        val i = RosMessages.audioInfo(m.data)
        (m.path, m.topic, i.channels, i.sampleRate, i.sampleFormat, i.codingFormat)
      }
      .toDF("bag", "info_topic", "channels", "sample_rate", "sample_format", "coding_format")
      .select(col("bag"), nsOf(col("info_topic")).as("ns"),
        struct(col("channels"), col("sample_rate"),
          col("sample_format"), col("coding_format")).as("info"))
      .distinct()
      .groupBy("bag", "ns")
      .agg(collect_set(col("info")).as("infos"))
    val joined = data
      .withColumn("ns", nsOf(col("topic")))
      .join(broadcast(infos), Seq("bag", "ns"), "left")
    val resolved = joined.select(
        col("bag"), col("topic"), col("time_ns"), col("pcm"), col("infos"))
      .mapPartitions(_.map { r =>
        val topic = r.getString(1)
        val infos = if (r.isNullAt(4)) Seq.empty
                    else r.getSeq[org.apache.spark.sql.Row](4)
        require(infos.nonEmpty,
          s"AudioData on $topic: no AudioInfo topic in its namespace — " +
            "cannot interpret the PCM payload (unknown rate/channels/format)")
        require(infos.size == 1,
          s"AudioData on $topic: ${infos.size} conflicting AudioInfo configs " +
            s"in its namespace — ambiguous stream properties: $infos")
        val i = infos.head
        val fmt = i.getString(2); val coding = i.getString(3)
        require(AudioPcmFormats.contains(fmt) && AudioPcmCodings.contains(coding),
          s"AudioData on $topic: unsupported audio format " +
            s"(sample_format='$fmt', coding_format='$coding'; supported: " +
            s"sample_format S16LE with raw/wave coding) — refusing to land " +
            "bytes under a wrong sample interpretation. Recipe for " +
            "compressed codings (mp3/aac — the audio_capture default on " +
            "bandwidth-limited rigs): the concatenated AudioData payloads " +
            "of a topic ARE the raw compressed bitstream, so (1) dump them " +
            "in time_ns order to <topic>.mp3, (2) transcode offline with " +
            "`ffmpeg -i <topic>.mp3 -f s16le -acodec pcm_s16le " +
            "-ar <sample_rate> -ac <channels> <topic>.pcm`, (3) rewrite " +
            "the bag's AudioInfo as sample_format=S16LE/coding_format=wave " +
            "with the PCM buffers, then re-run BagIngest")
        (r.getString(0), topic, r.getLong(2),
          i.getLong(1).toInt, i.getLong(0).toInt, r.getAs[Array[Byte]](3))
      })
      .toDF("bag", "topic", "time_ns", "sample_rate", "channels", "pcm")
    val w = Window.partitionBy("bag", "topic").orderBy("time_ns")
    withIso(resolved)
      .withColumn("clip_no", row_number().over(w) - 1)
      .withColumn("clip_id", xxhash64(col("bag"), col("topic"), col("time_ns")))
  }

  /** nav_msgs/Odometry -> pose/twist columns (bagstream.py:291). */
  def odometry(spark: SparkSession, path: String): DataFrame =
    odometryOf(spark, messages(spark, path))

  def odometryOf(spark: SparkSession, msgs: Dataset[RawMessage]): DataFrame = {
    import spark.implicits._
    withIso(msgs
      .filter(reading(readsOdometry))
      .map { m =>
        val o = RosMessages.odometry(m.data)
        (m.path, m.topic, m.time_ns, o.header.seq, o.header.frameId, o.childFrameId,
          o.posX, o.posY, o.posZ, o.oriX, o.oriY, o.oriZ, o.oriW,
          o.twistLinX, o.twistLinY, o.twistLinZ)
      }
      .toDF("bag", "topic", "time_ns", "seq", "frame_id", "child_frame_id",
        "pos_x", "pos_y", "pos_z", "ori_x", "ori_y", "ori_z", "ori_w",
        "twist_lin_x", "twist_lin_y", "twist_lin_z"))
  }

  /** geometry_msgs/Wrench -> force/torque columns (bagstream.py:309). */
  def wrench(spark: SparkSession, path: String): DataFrame =
    wrenchOf(spark, messages(spark, path))

  def wrenchOf(spark: SparkSession, msgs: Dataset[RawMessage]): DataFrame = {
    import spark.implicits._
    withIso(msgs
      .filter(reading(readsWrench))
      .map { m =>
        val v = RosMessages.wrench(m.data)
        (m.path, m.topic, m.time_ns, v.forceX, v.forceY, v.forceZ, v.torqueX, v.torqueY, v.torqueZ)
      }
      .toDF("bag", "topic", "time_ns", "force_x", "force_y", "force_z",
        "torque_x", "torque_y", "torque_z"))
  }

  /** std_msgs single-slot messages -> (time, value-as-string)
    * (bagstream.py:285). */
  def stdMsgs(spark: SparkSession, path: String): DataFrame =
    stdMsgsOf(spark, messages(spark, path))

  def stdMsgsOf(spark: SparkSession, msgs: Dataset[RawMessage]): DataFrame = {
    import spark.implicits._
    withIso(msgs
      .filter(reading(readsStdMsgs))
      .map { m =>
        val v: Option[String] = m.datatype match {
          case "std_msgs/String"  => Some(RosMessages.stdString(m.data))
          case "std_msgs/Int32"   => Some(RosMessages.stdInt32(m.data).toString)
          case "std_msgs/Float64" => Some(RosMessages.stdFloat64(m.data).toString)
          case _                  => None
        }
        (m.path, m.topic, m.datatype, m.time_ns, v)
      }
      .toDF("bag", "topic", "datatype", "time_ns", "value"))
  }

  /** Per-recording frame manifest: ordered frames per (bag, topic) + fps —
    * the metadata main.py feeds ffmpeg for mp4 muxing (framerate, ordered
    * `image_raw-%04d.png` inputs).
    *
    * Emitted as ORDERED ROWS, one per frame, with the per-recording stats
    * attached by window aggregates: a 10-hour 30 fps recording is ~1M
    * frames, which would blow up a per-group `collect_list` buffer, while
    * the window exec spills (ExternalAppendOnlyUnsafeRowArray) and the
    * within-partition sort keeps each recording's frames contiguous and
    * frame_no-ordered for the muxer to stream.
    */
  def mp4Manifest(spark: SparkSession, path: String): DataFrame =
    mp4ManifestOf(images(spark, path))

  def mp4ManifestOf(images: DataFrame): DataFrame = {
    val w = Window.partitionBy("bag", "topic")
    images
      .select("bag", "topic", "frame_no", "file_name", "time_ns")
      .withColumn("n_frames", count(lit(1)).over(w))
      .withColumn("start_ns", min("time_ns").over(w))
      .withColumn("end_ns", max("time_ns").over(w))
      .withColumn("duration_s", (col("end_ns") - col("start_ns")) / lit(1e9))
      .withColumn("fps",
        when(col("duration_s") > 0, (col("n_frames") - 1) / col("duration_s")).otherwise(lit(0.0)))
      .drop("time_ns")
      // no extra shuffle: rides the window's (bag, topic) hash partitioning
      .sortWithinPartitions("bag", "topic", "frame_no")
  }
}
