package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Exact._

/** ROS-bag domain operators (SURVEY.md §2.B): the reference's data-lake
  * semantics re-expressed as Spark plans. The `events` table stands in for
  * the sensor/detection stream (ts = ROS time, user_id = camera/connection
  * id, event_type = topic/label, value = measurement/confidence); the real
  * binary bag grammar lives in graft.sources.rosbag and is unit-tested on
  * synthesized bag bytes.
  *
  * `ts` is epoch-nanos (long) end to end — exact int64 arithmetic, no
  * float time anywhere, which is what you want for 100 TB of sensor logs.
  */
object RosbagDomainOps {

  /** Seconds-resolution ISO8601 from epoch-nanos, mirroring
    * bagstream.py:212 `ros_time_to_iso`. */
  private def iso(ts: Column, fmt: String = "yyyy-MM-dd'T'HH:mm:ss"): Column =
    date_format(timestamp_micros(call_function("div", ts, lit(1000L))), fmt)

  /** Epoch-day number of a long-nanos ts (codegen'd integer arithmetic) —
    * the grouping key day-bucketed aggregates use so the expensive
    * per-row date STRING format runs once per OUTPUT group instead
    * (UTC session: same buckets either way). FLOOR division, not `div`'s
    * truncation toward zero: a pre-1970 ts (negative nanos) must land on
    * its calendar day (ts=-1ns → 1969-12-31), matching what the
    * date_format path and the DuckDB oracle would compute — pmod's
    * non-negative remainder makes the subtraction exactly divisible, so
    * the whole thing stays exact int64 (no float log anywhere). */
  private[graft] def dayNum(ts: Column): Column = {
    val day = lit(86_400_000_000_000L)
    call_function("div", ts - pmod(ts, day), day)
  }

  /** The "yyyy-MM-dd" string of an epoch-day number. */
  private[graft] def dayStr(dayn: Column): Column =
    date_format(timestamp_micros(dayn * lit(86_400_000_000L)), "yyyy-MM-dd")

  /** q20 — per-camera frame index: monotonically numbered frames + ISO time
    * (bagstream.py frame_count/isotime). Window partitions by camera id, so
    * state is bounded per camera at any scale.
    */
  def frameIndex(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("frame_no", row_number().over(w).cast("long"))
      .withColumn("iso_time", iso(col("ts")))
      // µs precision in the output: the oracle engine only surfaces µs
      .withColumn("ts_us", call_function("div", col("ts"), lit(1000L)))
      .drop("ts")
      .orderBy("user_id", "frame_no")
  }

  /** q37 — mp4-mux manifest shape over the frame model: ordered per-frame
    * rows with the per-recording stats (n_frames, time span, fps) attached
    * by window aggregates — the scalable form of RosbagReader.mp4ManifestOf
    * (no per-recording array buffer; a million-frame recording is just a
    * window partition that spills). fps is what main.py hands ffmpeg.
    */
  def mp4ManifestIndex(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("frame_no", row_number().over(wo).cast("long"))
      .withColumn("n_frames", count(lit(1)).over(w))
      .withColumn("start_us", call_function("div", min("ts").over(w), lit(1000L)))
      .withColumn("end_us", call_function("div", max("ts").over(w), lit(1000L)))
      .withColumn("fps",
        when(col("end_us") > col("start_us"),
          (col("n_frames") - 1) / ((col("end_us") - col("start_us")) / lit(1e6)))
          .otherwise(lit(0.0)))
      .drop("ts")
      .orderBy("user_id", "frame_no")
  }

  /** q21 — recording sessionization: a gap > 6h starts a new session (the
    * mp4-per-recording grouping in main.py). Classic two-window plan:
    * lag -> new-session flag -> running sum = session id, then one
    * aggregation; everything stays partitioned by camera.
    */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val gapNs = 21600L * 1000000000L
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(wRun))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ns"),
        max(col("ts")).as("end_ns"))
      .select(
        col("user_id"), col("session_seq"),
        col("n_events"),
        call_function("div", col("end_ns") - col("start_ns"), lit(1000000000L)).as("duration_s"),
        iso(col("start_ns")).as("start_iso"))
      .orderBy("user_id", "session_seq")
  }

  /** q22 — dropped-frame detection: inter-frame delta above threshold. */
  def frameGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_event_id", lag(col("event_id"), 1).over(w))
      .withColumn("gap_ms", call_function("div", col("ts") - lag(col("ts"), 1).over(w), lit(1000000L)))
      .filter(col("gap_ms") > 172800000L) // > 48h
      .select("user_id", "event_id", "prev_event_id", "gap_ms")
      .orderBy("user_id", "event_id")
  }

  /** q23 — detection-results pivot: per (camera, day), max confidence per
    * label + instance counts — the DynamoDB conditional-upsert semantics of
    * process-queue-sync.py ("attribute_not_exists OR name < :conf") as one
    * shuffle-once aggregation.
    */
  def detectMaxConf(s: SparkSession, d: String): DataFrame = {
    // group on the epoch-DAY NUMBER, format the string once per output
    // group: per-row date_format over the full event stream was the whole
    // CPU cost of this query at 10M rows (string formatting ~ µs/row; the
    // integer division is codegen'd arithmetic). UTC session, so
    // day-number -> "yyyy-MM-dd" is the same bucket the per-row format
    // produced.
    val e = Tables.events(s, d).withColumn("dayn", dayNum(col("ts")))
    def maxConf(t: String) = max(when(col("event_type") === t, col("value"))).as(s"max_$t")
    def cnt(t: String)     = sum(when(col("event_type") === t, 1).otherwise(0)).cast("long").as(s"n_$t")
    e.groupBy("user_id", "dayn")
      .agg(
        maxConf("click"), maxConf("view"), maxConf("purchase"),
        cnt("click"), cnt("view"), cnt("purchase"), cnt("error"),
        count(lit(1)).as("n_detections"))
      .withColumn("day", dayStr(col("dayn"))).drop("dayn")
      .select(col("user_id"), col("day"), col("max_click"), col("max_view"),
        col("max_purchase"), col("n_click"), col("n_view"), col("n_purchase"),
        col("n_error"), col("n_detections"))
      .orderBy("user_id", "day")
  }

  /** q24 — VRU selection (select-labelling-imgs filter_vru): distinct
    * camera-days containing any of the target labels.
    */
  def vruFilter(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("error", "signup"))
      .select(col("user_id"), dayNum(col("ts")).as("dayn"))
      .distinct()                                  // dedup on the cheap long key
      .select(col("user_id"), dayStr(col("dayn")).as("day"))
      .orderBy("user_id", "day")

  /** q25 — "images containing X" search: label + confidence + time-range
    * predicate, top matches. All three predicates push to the scan.
    */
  def labelSearch(s: SparkSession, d: String): DataFrame = {
    val lo = 1704412800L * 1000000000L // 2024-01-05T00:00Z
    val hi = 1706745600L * 1000000000L // 2024-02-01T00:00Z
    Tables.events(s, d)
      .filter(col("event_type") === "purchase" && col("value") >= 150.0 &&
              col("ts") >= lo && col("ts") < hi)
      .select(col("event_id"), col("user_id"), col("value"), iso(col("ts")).as("iso_time"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(20)
  }

  /** q26 — as-of join (sensor fusion): for each 'view' frame, the nearest
    * earlier-or-equal 'click' reading of the same camera. Implemented as a
    * union + last-non-null window — a single shuffle on (user_id), no range
    * cross join, so it scales linearly where a naive as-of would be
    * quadratic. DuckDB's native ASOF JOIN is the oracle.
    */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    // kind 0 = right side (click), 1 = left side (view): at equal ts the
    // click sorts first, matching ASOF's v.ts >= c.ts inclusivity.
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("kind"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("kind"))
    val w = Window.partitionBy("user_id").orderBy("ts", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionAll(views)
      .withColumn("click_id", last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts", last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(
        col("event_id").as("view_id"), col("user_id"),
        col("click_id"),
        call_function("div",
          call_function("div", col("ts"), lit(1000L)) - call_function("div", col("click_ts"), lit(1000L)),
          lit(1000L)).as("lag_ms"))
      .orderBy("view_id")
  }

  /** q27 — work-queue monitor (the reference's DynamoDB monitor table):
    * latest status + processing span per worker.
    */
  def monitorStatus(s: SparkSession, d: String): DataFrame =
    // one aggregation, no sort: the latest row per worker is max_by over
    // the (ts, event_id) total order, and the span/count ride the same
    // groupBy — the old shape ran three windows (rank + count + span) over
    // a per-worker sort just to keep one row
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .groupBy("user_id")
      .agg(
        max_by(struct(col("event_id"), col("event_type")),
          struct(col("ts"), col("event_id"))).as("last"),
        count(lit(1)).as("n_events"),
        call_function("div", max(col("ts")) - min(col("ts")), lit(1000000000L)).as("span_s"))
      .select(
        col("user_id"), col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_status"), col("n_events"), col("span_s"))
      .orderBy("user_id")

  /** Deterministic synthetic bounding boxes derived from `part` — stands in
    * for the Ground Truth manifest annotations (object-detection/
    * ground_truth/output.manifest). Integer-only geometry.
    */
  // image_id = partkey / 40: every image carries a BOUNDED number of boxes
  // (≤40) at ANY corpus size, and the image count scales with the lake —
  // the shape real detection data has. (The earlier `% 50` derivation kept
  // a fixed 50 images, so growing `part` grew boxes-per-image and q29's
  // within-image pair count quadratically — a data-model artifact, not a
  // plan property; the sf1 scale audit caught it at 42× for 10× data.)
  private def boxes(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey").as("box_id"),
      expr("p_partkey div 40").as("image_id"), // integer division, no double round-trip
      ((col("p_partkey") * 37) % 700).as("x"),
      ((col("p_partkey") * 53) % 500).as("y"),
      ((col("p_size") * 7) % 100 + 20).cast("bigint").as("w"),
      ((col("p_size") * 11) % 80 + 20).cast("bigint").as("h"))

  /** q28 — bbox normalization to [0,1] against the 800x600 frame
    * (ground_truth_od.py compute_bb_data) + per-image box count.
    */
  def bboxNormalize(s: SparkSession, d: String): DataFrame = {
    val b = boxes(s, d)
    val wImg = Window.partitionBy("image_id")
    b.withColumn("n_boxes", count(lit(1)).over(wImg))
      .select(
        col("box_id"), col("image_id"), col("n_boxes"),
        (col("x") / 800.0).as("xmin"),
        ((col("x") + col("w")) / 800.0).as("xmax"),
        (col("y") / 600.0).as("ymin"),
        ((col("y") + col("h")) / 600.0).as("ymax"),
        (col("w") * col("h") / (800.0 * 600.0)).as("area"))
      .orderBy("box_id")
  }

  /** q29 — pairwise IoU within each image (ground_truth_od.py IoU): integer
    * intersection geometry, one double division at the end. Self-join keyed
    * on image_id only — candidate pairs are bounded per image, never a
    * global cross product.
    */
  def bboxIou(s: SparkSession, d: String): DataFrame = {
    val b = boxes(s, d)
    val a = b.select(col("image_id"), col("box_id").as("box_a"), col("x").as("ax"),
      col("y").as("ay"), col("w").as("aw"), col("h").as("ah"))
    val c = b.select(col("image_id").as("image_id_b"), col("box_id").as("box_b"), col("x").as("bx"),
      col("y").as("by"), col("w").as("bw"), col("h").as("bh"))
    val iw = greatest(lit(0L), least(col("ax") + col("aw"), col("bx") + col("bw")) - greatest(col("ax"), col("bx")))
    val ih = greatest(lit(0L), least(col("ay") + col("ah"), col("by") + col("bh")) - greatest(col("ay"), col("by")))
    a.join(c, col("image_id") === col("image_id_b") && col("box_a") < col("box_b"))
      .withColumn("inter", iw * ih)
      .withColumn("uni", col("aw") * col("ah") + col("bw") * col("bh") - col("inter"))
      .filter(col("inter") > 0)
      .select(
        col("image_id"), col("box_a"), col("box_b"),
        (col("inter").cast("double") / col("uni")).as("iou"))
      .orderBy("image_id", "box_a", "box_b")
  }

  /** q29b — detection evaluation (the consumer of ground_truth_od.py's IoU:
    * score a detector's boxes against the Ground-Truth manifest): per
    * class, precision/recall/F1 at IoU ≥ 0.5 under MUTUAL-BEST matching —
    * a prediction and a ground-truth box match iff each is the other's
    * best-IoU candidate within (image, class), ties broken by id so the
    * matching is total-order deterministic (no sequential greedy state,
    * which is what makes the operator distributable AND oracle-exact).
    * The deterministic even/odd split of the synthetic boxes stands in
    * for the (ground truth, prediction) table pair.
    *
    * Scale shape: candidate pairs are keyed on (image, class) — bounded
    * per image at any corpus size (the q29 join contract); the two
    * best-candidate windows partition on box ids (high cardinality, no
    * hot key); the rollup is |classes| rows. Counts are integers, each
    * metric one IEEE division.
    */
  def detEval(s: SparkSession, d: String, iouMin: Double = 0.5): DataFrame = {
    val b = boxes(s, d).withColumn("class_id", col("box_id") % 3)
    val gt = b.filter(col("box_id") % 2 === 0).select(
      col("image_id"), col("class_id"), col("box_id").as("gt_id"),
      col("x").as("gx"), col("y").as("gy"), col("w").as("gw"), col("h").as("gh"))
    val pr = b.filter(col("box_id") % 2 === 1).select(
      col("image_id").as("p_image_id"), col("class_id").as("p_class_id"),
      col("box_id").as("pred_id"),
      col("x").as("px"), col("y").as("py"), col("w").as("pw"), col("h").as("ph"))
    val iw = greatest(lit(0L), least(col("gx") + col("gw"), col("px") + col("pw")) - greatest(col("gx"), col("px")))
    val ih = greatest(lit(0L), least(col("gy") + col("gh"), col("py") + col("ph")) - greatest(col("gy"), col("py")))
    val pairs = gt.join(pr,
        col("image_id") === col("p_image_id") && col("class_id") === col("p_class_id"))
      .withColumn("inter", iw * ih)
      .withColumn("uni", col("gw") * col("gh") + col("pw") * col("ph") - col("inter"))
      .withColumn("iou", col("inter").cast("double") / col("uni"))
      .filter(col("iou") >= iouMin)
      .select(col("class_id"), col("gt_id"), col("pred_id"), col("iou"))
    val bestForPred = Window.partitionBy("pred_id")
      .orderBy(col("iou").desc, col("gt_id"))
    val bestForGt = Window.partitionBy("gt_id")
      .orderBy(col("iou").desc, col("pred_id"))
    val matched = pairs
      .withColumn("rp", row_number().over(bestForPred))
      .withColumn("rg", row_number().over(bestForGt))
      .filter(col("rp") === 1 && col("rg") === 1)
      .groupBy("class_id").agg(count(lit(1)).as("n_matched"))
    val nGt = gt.groupBy("class_id").agg(count(lit(1)).as("n_gt"))
    val nPr = pr.groupBy(col("p_class_id").as("class_id"))
      .agg(count(lit(1)).as("n_pred"))
    nGt.join(nPr, Seq("class_id"), "full")
      .join(matched, Seq("class_id"), "left")
      .select(col("class_id"),
        coalesce(col("n_gt"), lit(0L)).as("n_gt"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("precision",
        when(col("n_pred") > 0, col("n_matched").cast("double") / col("n_pred").cast("double")))
      .withColumn("recall",
        when(col("n_gt") > 0, col("n_matched").cast("double") / col("n_gt").cast("double")))
      // harmonic mean of the two computed doubles — null when either side
      // is undefined or both are zero (0/0), matching the oracle's CASE
      .withColumn("f1",
        when(col("precision").isNotNull && col("recall").isNotNull &&
            (col("precision") + col("recall")) > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall"))))
      .orderBy("class_id")
  }

  /** Deterministic SCORED detection model for the ranked-metric pair
    * q29c/q29d — what a detector (train_yolov3.py's net) actually emits
    * over the Ground-Truth image set, which the even/odd split of [[boxes]]
    * cannot stand in for because its boxes carry no confidence and barely
    * overlap (measured max gt-vs-pred IoU 0.149: AP would be null and NMS
    * a no-op). Three proposals per ground-truth object, the shape real
    * anchor-based detector output has:
    *
    *  - `3k`  : a tight localization (±5 px jitter, ±3 px size) at high
    *            confidence (score ∈ [0.600, 0.999]) — usually the TP;
    *  - `3k+1`: a looser duplicate firing on the same object (±7/±4) at
    *            mid confidence [0.300, 0.699] — what NMS exists to
    *            suppress, and a duplicate-detection FP for AP when it
    *            survives;
    *  - `3k+2`: a background box elsewhere in the frame at a confidence
    *            drawn across the FULL range [0.000, 0.999] — the
    *            high-score-FP population that makes the PR curve bend.
    *
    * `si` is the score as an exact INTEGER in [0, 999] (score = si/1000):
    * ranking compares integers, so the score order is total and
    * engine-portable; the one double division happens at the output edge.
    * All geometry integer, [[boxes]]' conventions (bounded boxes per
    * image at any corpus size; image count scales with the lake).
    */
  private def scoredDetections(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val gt = Tables.part(s, d).select(
      col("p_partkey").as("gt_id"),
      expr("p_partkey div 40").as("image_id"),
      (col("p_partkey") % 3).as("class_id"),
      ((col("p_partkey") * 37) % 700).as("gx"),
      ((col("p_partkey") * 53) % 500).as("gy"),
      ((col("p_size") * 7) % 100 + 20).cast("bigint").as("gw"),
      ((col("p_size") * 11) % 80 + 20).cast("bigint").as("gh"))
    val k = col("gt_id")
    def arm(j: Int, x: Column, y: Column, w: Column, h: Column, si: Column) =
      gt.select((k * 3 + j).as("pred_id"), col("image_id"), col("class_id"),
        x.as("x"), y.as("y"), w.as("w"), h.as("h"), si.as("si"))
    val det =
      arm(0, col("gx") + (k % 11) - 5, col("gy") + (k * 3) % 11 - 5,
        col("gw") + (k % 7) - 3, col("gh") + (k * 5) % 7 - 3,
        lit(600L) + (k * 13) % 400)
        .unionAll(arm(1, col("gx") + (k * 5) % 15 - 7, col("gy") + (k * 7) % 15 - 7,
          col("gw") + (k % 9) - 4, col("gh") + (k * 11) % 9 - 4,
          lit(300L) + (k * 17) % 400))
        .unionAll(arm(2, (col("gx") + 200 + (k * 19) % 300) % 700,
          (col("gy") + 150 + (k * 23) % 200) % 500,
          (k * 29) % 80 + 20, (k * 31) % 60 + 20,
          (k * 37) % 1000))
    (gt, det)
  }

  /** Greedy per-(image, class) non-maximum suppression — the box filter
    * the reference applies before every detector evaluation
    * (`net.set_nms(nms_thresh=0.45, nms_topk=400)`,
    * object-detection/train_yolov3.py:154): walk detections in score
    * order, keep one iff its IoU with every already-kept box stays ≤
    * `iouThresh`, consider at most `topk` per group.
    *
    * Scale shape: greedy NMS is sequential BY DEFINITION — but only
    * within one (image, class) group, whose size is bounded by the
    * detector's own per-image output cap at any corpus size. So the
    * group is the unit: ONE shuffle to collect each group's detections,
    * then a per-row higher-order `aggregate` over the score-sorted array
    * runs the O(kept·cands) suppression loop with zero further movement
    * — never a frame×frame join, no driver participation, and a
    * million-image lake is a million independent rows. Determinism:
    * ranking is (integer si DESC, pred_id) — total order, no float
    * compare; the IoU gate is integer geometry with one IEEE division,
    * identical in the DuckDB oracle's recursive-CTE replay.
    *
    * Input must carry (image_id, class_id, pred_id, x, y, w, h, si);
    * output is the kept subset with the same columns.
    */
  /** One detection row for the [[nms]] kernel. */
  final case class Det(image_id: Long, class_id: Long, pred_id: Long,
      x: Long, y: Long, w: Long, h: Long, si: Long)

  def nms(detections: DataFrame, iouThresh: Double = 0.45, topk: Int = 400): DataFrame = {
    require(iouThresh >= 0.0 && iouThresh <= 1.0, s"iouThresh in [0,1]; got $iouThresh")
    require(topk >= 1, s"topk must be >= 1; got $topk")
    val s = detections.sparkSession
    import s.implicits._
    // The suppression loop is a DELIBERATE typed kernel (the
    // assignListsKernel adjudication): the per-group loop over the
    // score-sorted array is pure primitive arithmetic, and the Catalyst
    // higher-order-function form of the same loop (aggregate over
    // collect_list with a nested exists) evaluates ~O(kept·cands)
    // interpreted expression trees per group — measured ~7 µs per IoU
    // evaluation, 162 CPU-s at sf10 where this kernel does the identical
    // work in primitive longs. Distribution shape is unchanged: ONE
    // shuffle keyed (image, class), bounded groups, no driver state.
    detections
      .select(col("image_id"), col("class_id"), col("pred_id"),
        col("x"), col("y"), col("w"), col("h"), col("si"))
      .as[Det]
      .groupByKey(d => (d.image_id, d.class_id))
      .flatMapGroups { (_: (Long, Long), it: Iterator[Det]) =>
        nmsGroup(it.toArray, iouThresh, topk).iterator
      }
      .toDF()
  }

  /** One group's greedy suppression loop — pure and Spark-free so the
    * property suite can fuzz it directly against an independent naive
    * implementation. Total order: score DESC, pred_id ASC (the oracle's
    * recursive-CTE rank); all geometry primitive longs, one IEEE
    * division per comparison. MUTATES `cands` (sorted in place) — pass a
    * fresh or cloned array if the caller needs its original order.
    */
  private[graft] def nmsGroup(cands: Array[Det], iouThresh: Double,
      topk: Int): scala.collection.Seq[Det] = {
    java.util.Arrays.sort(cands, Ordering.by((d: Det) => (-d.si, d.pred_id)))
    val n = math.min(topk, cands.length)
    val kept = new scala.collection.mutable.ArrayBuffer[Det](n)
    var i = 0
    while (i < n) {
      val b = cands(i)
      var dominated = false
      var j = 0
      while (j < kept.length && !dominated) {
        val k = kept(j)
        val iw = math.min(k.x + k.w, b.x + b.w) - math.max(k.x, b.x)
        val ih = math.min(k.y + k.h, b.y + b.h) - math.max(k.y, b.y)
        if (iw > 0 && ih > 0) {
          val inter = iw * ih
          val iou = inter.toDouble / (k.w * k.h + b.w * b.h - inter)
          dominated = iou > iouThresh
        }
        j += 1
      }
      if (!dominated) kept += b
      i += 1
    }
    kept
  }

  /** One (ti, image, class) group's COCO-greedy assignment loop:
    * [[greedyMatchGroupIgnore]] with no gt ignored. Input: candidate
    * pairs (gt_id, pred_id, iou, si) already gated at the group's IoU
    * threshold. Detections walk in (score DESC, pred_id) order; each
    * claims the FREE gt with the highest IoU (ties by gt_id ASC) —
    * pycocotools' per-image assignment. Returns the matched pred_ids.
    */
  private[graft] def greedyMatchGroup(
      cands: Array[(Long, Long, Double, Long)]): scala.collection.Seq[Long] =
    greedyMatchGroupIgnore(cands.map(t => (t._1, t._2, t._3, t._4, false))).map(_._1)

  /** q29d — the NMS pass as a driver query: the [[scoredDetections]] model
    * through [[nms]] at the reference's dials (thresh 0.45, topk 400),
    * emitting the kept detections with their scores. At the gate lake the
    * duplicate-proposal arm is ~⅓ of detector output and NMS removes most
    * of it (6000 → ~4100 kept) — the volume a lake-scale eval or
    * pseudo-labeling pass runs AFTER instead of storing raw proposals.
    */
  def nmsTable(s: SparkSession, d: String): DataFrame =
    nms(scoredDetections(s, d)._2)
      .select(col("image_id"), col("class_id"), col("pred_id"),
        (col("si").cast("double") / 1000.0).as("score"))
      .orderBy("image_id", "class_id", "pred_id")

  /** q29c — per-class AVERAGE PRECISION and the mAP rollup: the ranked
    * PR-curve metric the reference's training loop validates with
    * (VOCMApMetric, object-detection/train_yolov3.py:150-181), closing
    * the gap q29b's fixed-threshold precision/recall left. Pipeline:
    * [[scoredDetections]] → [[nms]] (realistic post-suppression input) →
    * q29b's deterministic mutual-best matching at IoU ≥ 0.5 decides which
    * kept detections are TPs → per class, detections rank by (score DESC,
    * pred_id), cumulative TP/FP give precision/recall at every cut, the
    * precision envelope max(prec over ranks ≥ r) interpolates, and
    * AP = Σ_TP Δrecall·interp_prec = (Σ_TP interp_prec)/n_gt (VOC2010
    * continuous form — every TP contributes exactly 1/n_gt of recall).
    * Output: one row per class (n_gt, n_pred kept, n_tp, ap) + the
    * class_id = −1 macro row (count totals, ap = mean of class APs).
    *
    * Determinism: matching and ranking are integer-total-ordered (q29b's
    * device); each precision is one IEEE division; the AP sum rides the
    * exact DECIMAL carrier over interp_prec terms (each ∈ [0,1], safely
    * above the carrier's 1e-6 resolution at ANY corpus size — dividing
    * by n_gt once at the end, never per-term). Scale shape: candidate
    * pairs are bounded per (image, class); the ranking/envelope windows
    * partition per CLASS — the one global-per-class sort an AP integral
    * inherently needs. That is the eval-set contract: AP is computed
    * over a labeled evaluation slice (the reference's validation set),
    * bounded by labeling budget, not by the 100 TB lake the detector
    * later scores.
    */
  /** The SHARED AP machinery under q29c and q29e — one parameterized
    * pipeline, never two copies of the matching rule or the window
    * frames: scored detections → [[nms]] (persisted: feeds BOTH the
    * matching join and the ranked sweep — aliased subtrees never unify)
    * → candidate pairs at the LOOSEST gate (IoU ≥ 0.5) → a bounded
    * |tis|-way explode re-gates per threshold (thr = ti/20 — exact
    * integer index, one IEEE division; never a float key) → per-ti
    * mutual-best matching → per-(ti, class) score-ranked cumulative TP,
    * precision, and the interpolated envelope. The envelope max(prec
    * over ranks ≥ r) runs as a RUNNING max over the REVERSED rank
    * order: an unbounded-FOLLOWING frame makes WindowExec rescan the
    * whole suffix per row — O(n²) per partition (measured: the whole
    * q29c CPU bill at sf0.1) — while the reversed running frame is one
    * O(n) pass over the same total order.
    *
    * Returns the per-(ti, class) cell frame (ti, class_id, n_gt, n_pred,
    * n_tp, ap) with ap NULL when the cell has no TP — each caller applies
    * its own null policy and rollup. The frame is a LOCAL relation: cells
    * are bounded at ≤ |tis|·|classes| rows by construction, so they are
    * materialized here and every cache entry (the NMS output feeding both
    * the matching join and the ranked sweep) is released in the finally —
    * the Clf.calibrationTable discipline: a long-lived session calling
    * q29c/q29e repeatedly must not accumulate cache entries.
    */
  private def apSweepCells(s: SparkSession, d: String, tis: Seq[Int],
      elevenPoint: Boolean = false, greedyMatch: Boolean = false): DataFrame = {
    require(tis.nonEmpty && tis.forall(t => t >= 10 && t <= 19),
      s"IoU threshold indices must lie in [10, 19] (thr = ti/20); got $tis")
    val (gt, det) = scoredDetections(s, d)
    val kept = nms(det).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val iw = greatest(lit(0L), least(col("gx") + col("gw"), col("x") + col("w")) - greatest(col("gx"), col("x")))
    val ih = greatest(lit(0L), least(col("gy") + col("gh"), col("y") + col("h")) - greatest(col("gy"), col("y")))
    val tiCol = explode(array(tis.map(i => lit(i.toLong)): _*))
    val pairs = gt.join(kept.withColumnRenamed("image_id", "p_image_id")
        .withColumnRenamed("class_id", "p_class_id"),
        col("image_id") === col("p_image_id") && col("class_id") === col("p_class_id"))
      .withColumn("inter", iw * ih)
      .withColumn("uni", col("gw") * col("gh") + col("w") * col("h") - col("inter"))
      .withColumn("iou", col("inter").cast("double") / col("uni"))
      .filter(col("iou") >= 0.5)
      .select(col("image_id"), col("class_id"), col("gt_id"), col("pred_id"),
        col("iou"), col("si"))
      .withColumn("ti", tiCol)
      .filter(col("iou") >= col("ti").cast("double") / 20.0)
    // Two matching rules over the SAME candidate pairs:
    //   mutual-best (the engine default — order-free, two rank-1 window
    //   filters, shared with q29b/q29c), or COCO's GREEDY score-order
    //   assignment (pycocotools semantics: each detection, highest score
    //   first, claims the free GT with the highest IoU). Greedy is
    //   sequential BY DEFINITION but only within one (ti, image, class)
    //   group — the q29d NMS adjudication: one shuffle collects the
    //   bounded group, a typed kernel runs the loop, no driver state.
    val matched =
      if (greedyMatch) {
        import s.implicits._
        pairs.select(col("ti"), col("image_id"), col("class_id"),
            col("gt_id"), col("pred_id"), col("iou"), col("si"))
          .as[(Long, Long, Long, Long, Long, Double, Long)]
          .groupByKey { case (ti, img, cls, _, _, _, _) => (ti, img, cls) }
          .flatMapGroups { (key: (Long, Long, Long),
              it: Iterator[(Long, Long, Long, Long, Long, Double, Long)]) =>
            greedyMatchGroup(it.map { case (_, _, _, g, p, iou, si) =>
              (g, p, iou, si)
            }.toArray).iterator.map(p => (key._1, p, 1L))
          }
          .toDF("ti", "pred_id", "is_tp")
      } else {
        val bestForPred = Window.partitionBy("ti", "pred_id").orderBy(col("iou").desc, col("gt_id"))
        val bestForGt = Window.partitionBy("ti", "gt_id").orderBy(col("iou").desc, col("pred_id"))
        pairs
          .withColumn("rp", row_number().over(bestForPred))
          .withColumn("rg", row_number().over(bestForGt))
          .filter(col("rp") === 1 && col("rg") === 1)
          .select(col("ti"), col("pred_id"), lit(1L).as("is_tp"))
      }
    val ng = gt.groupBy("class_id").agg(count(lit(1)).as("n_gt"))
    val wRank = Window.partitionBy("ti", "class_id").orderBy(col("si").desc, col("pred_id"))
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wEnvRev = Window.partitionBy("ti", "class_id")
      .orderBy(col("si").asc, col("pred_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = kept.withColumn("ti", tiCol)
      .join(matched, Seq("ti", "pred_id"), "left")
      .withColumn("is_tp", coalesce(col("is_tp"), lit(0L)))
      .withColumn("cum_tp", sum(col("is_tp")).over(wCum))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .withColumn("iprec",
        max(col("cum_tp").cast("double") / col("rnk").cast("double")).over(wEnvRev))
    // Two interpolation modes over the SAME envelope, both one aggregate:
    // VOC2010 continuous (every TP contributes iprec/n_gt) vs VOC07
    // 11-point (mean of the envelope sampled at recall ∈ {0, 0.1, …, 1};
    // Everingham et al. IJCV 2010 §4.2 — the reference's actual training
    // metric is VOC07MApMetric, object-detection/train_yolov3.py:110).
    // p_interp(r) = max prec over rows with recall ≥ r = max iprec over
    // rows with 10·cum_tp ≥ j·n_gt (exact integer gate, recall = j/10) —
    // eleven conditional-max columns in the one groupBy, no explode. A
    // recall point past the curve contributes 0 (COALESCE). The 11-term
    // sum is a fixed left-assoc IEEE chain — engine-portable as-is.
    val apCol =
      if (elevenPoint)
        ((0 to 10).map { j =>
          coalesce(
            max(when(col("cum_tp") * 10 >= lit(j.toLong) * col("n_gt"), col("iprec"))),
            lit(0.0))
        }.reduceLeft(_ + _) / 11.0).as("ap")
      else
        (dsum(when(col("is_tp") === 1L, col("iprec"))) /
          col("n_gt").cast("double")).as("ap")
    val cells = ranked.join(ng, "class_id")
      .groupBy("ti", "class_id", "n_gt")
      .agg(count(lit(1)).as("n_pred"), sum(col("is_tp")).as("n_tp"), apCol)
      .select("ti", "class_id", "n_gt", "n_pred", "n_tp", "ap")
    try {
      // bounded at ≤ |tis|·|classes| rows — materialize so each caller's
      // own-rows + rollup branches never re-run the NMS/matching subtree,
      // then release the kept-frame cache (nothing persisted survives)
      val rows = cells.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), cells.schema)
    } finally kept.unpersist(blocking = false)
  }

  def detAveragePrecision(s: SparkSession, d: String): DataFrame =
    detApSingleGate(s, d, elevenPoint = false)

  /** q29f — the VOC07 11-POINT variant of q29c: identical pipeline
    * (NMS → mutual-best matching at IoU ≥ 0.5 → ranked envelope), but
    * AP = mean of the interpolated precision sampled at the eleven
    * recall points {0, 0.1, …, 1.0} instead of the continuous integral —
    * the INTERPOLATION mode of the metric the reference's training loop
    * validates with (`VOC07MApMetric(iou_thresh=0.5)`,
    * object-detection/train_yolov3.py:110; q29c ships the VOC2010
    * continuous form modern tooling defaults to). RESIDUAL DEVIATION:
    * this arm keeps the engine's default MUTUAL-BEST matching, while the
    * VOC07 devkit (and the reference metric) assigns detections GREEDILY
    * in score order — so on detections where the two rules diverge (see
    * [[detApCoco]]'s documented-deviation note) this number can still
    * differ from the reference's. The exact-reproduction arm — 11-point
    * interpolation AND greedy assignment together — is
    * [[detAveragePrecisionVoc07Greedy]] (q29h). Output shape identical
    * to q29c.
    */
  def detAveragePrecisionVoc07(s: SparkSession, d: String): DataFrame =
    detApSingleGate(s, d, elevenPoint = true)

  /** q29h — the EXACT-REPRODUCTION arm for the reference's
    * `VOC07MApMetric` number: VOC07 11-point interpolation (q29f's mode)
    * COMBINED with greedy score-order assignment (q29g's rule, the VOC07
    * devkit's own matching — each detection, highest score first, claims
    * the free GT with the highest IoU). q29f reproduces only the
    * interpolation and q29g only the matching; a user reproducing the
    * reference's training-curve AP on the same detections needs both
    * dials, which is THIS arm. Same parameterized sweep ([[apSweepCells]]),
    * same output shape as q29c/q29f.
    */
  def detAveragePrecisionVoc07Greedy(s: SparkSession, d: String): DataFrame =
    detApSingleGate(s, d, elevenPoint = true, greedyMatch = true)

  private def detApSingleGate(s: SparkSession, d: String,
      elevenPoint: Boolean, greedyMatch: Boolean = false): DataFrame = {
    // the VOC single-gate case IS the sweep at the one index ti = 10
    // (thr = 0.5): ti is only a partition column, so the windows, the
    // matching, and the decimal-carrier AP are bit-identical to a
    // dedicated single-threshold plan
    val perClass = apSweepCells(s, d, Seq(10), elevenPoint, greedyMatch)
      .select("class_id", "n_gt", "n_pred", "n_tp", "ap")
    perClass.unionByName(
      perClass.agg(sum(col("n_gt")).as("n_gt"), sum(col("n_pred")).as("n_pred"),
          sum(col("n_tp")).as("n_tp"), davg(col("ap")).as("ap"))
        .select(lit(-1L).as("class_id"), col("n_gt"), col("n_pred"), col("n_tp"), col("ap")))
      .orderBy("class_id")
  }

  /** q29e — COCO-style mAP@[.5:.95] (Lin et al. ECCV 2014 §4; the metric
    * modern detector leaderboards report next to q29c's single-threshold
    * VOC AP): the q29c pipeline swept over the ten IoU thresholds
    * 0.50, 0.55, …, 0.95 — strict-localization quality enters the score
    * instead of being flattened by one 0.5 gate. One NMS pass and ONE
    * candidate-pair join serve all ten arms: pairs materialize once at
    * the loosest gate (IoU ≥ 0.5), a bounded 10-way explode re-gates
    * them per threshold, and the mutual-best matching + ranked sweep
    * windows simply gain the INTEGER threshold index `ti` (thr = ti/20,
    * one IEEE division — never a float key) as a partition column. Rows:
    * one per (threshold, class) cell + the class_id = −1 / iou_thr = −1
    * rollup whose ap IS mAP@[.5:.95] (decimal-carrier mean over the 30
    * cell APs). Same eval-set contract as q29c.
    *
    * DOCUMENTED DEVIATION from pycocotools: matching here is q29b's
    * MUTUAL-BEST rule (a pair survives only when each side is the
    * other's best by (IoU desc, id)), while COCO's reference
    * implementation assigns GREEDILY IN SCORE ORDER — each detection,
    * highest score first, claims the free GT with the highest IoU. The
    * rules agree except when a higher-scored detection's best GT is
    * better-claimed by another detection AND a lower-IoU GT remains
    * free: greedy still matches it (TP), mutual-best does not (FP) —
    * so pycocotools reports a slightly HIGHER mAP on the same
    * detections. Mutual-best stays this engine's default because it is
    * order-free and window-expressible (two rank-1 filters, no
    * sequential per-group state) and shared with q29b/q29c, so every
    * detection metric in the registry matches the same way; the
    * exact-greedy arm is [[detApCocoGreedy]] (q29g) for users
    * reproducing pycocotools numbers.
    */
  def detApCoco(s: SparkSession, d: String): DataFrame =
    detApCocoOf(s, d, greedyMatch = false)

  /** q29g — COCO mAP@[.5:.95] under COCO's OWN greedy score-order
    * assignment (the deviation q29e documents, implemented): identical
    * sweep, but TPs come from [[greedyMatchGroup]] per (ti, image,
    * class) instead of the mutual-best windows — the number pycocotools
    * would report on the same detections. The two arms bracket the
    * matching-rule sensitivity of the metric; greedy mAP is usually the
    * (slightly) higher read since a detection whose best GT was claimed
    * can still match a lower-IoU free GT.
    */
  def detApCocoGreedy(s: SparkSession, d: String): DataFrame =
    detApCocoOf(s, d, greedyMatch = true)

  private def detApCocoOf(s: SparkSession, d: String,
      greedyMatch: Boolean): DataFrame = {
    val perCell = apSweepCells(s, d, (10 to 19), greedyMatch = greedyMatch)
      .select((col("ti").cast("double") / 20.0).as("iou_thr"),
        col("class_id"), col("n_gt"), col("n_pred"), col("n_tp"),
        // COCO semantics: a zero-TP cell contributes AP 0 to the mean,
        // never a null (q29c's single-gate form keeps the null)
        coalesce(col("ap"), lit(0.0)).as("ap"))
    perCell.unionByName(
      perCell.agg(sum(col("n_gt")).as("n_gt"), sum(col("n_pred")).as("n_pred"),
          sum(col("n_tp")).as("n_tp"), davg(col("ap")).as("ap"))
        .select(lit(-1.0).as("iou_thr"), lit(-1L).as("class_id"),
          col("n_gt"), col("n_pred"), col("n_tp"), col("ap")))
      .orderBy("iou_thr", "class_id")
  }

  /** One (ti, area, maxDet, image, class) group's IGNORE-AWARE COCO
    * greedy assignment — the [[greedyMatchGroup]] loop with pycocotools'
    * area-range ignore semantics (cocoeval.py evaluateImg): ground truths
    * outside the cell's area range are IGNORE rather than absent, a
    * detection prefers the best free NON-ignored gt and falls back to the
    * best free ignored one (exactly the lexicographic pick (ignored ASC,
    * IoU DESC, gt_id ASC) — pycocotools sorts ignored gts last and
    * breaks out of the scan once a real match exists), and a detection
    * that claims an ignored gt is itself ignored downstream (neither TP
    * nor FP). Input: candidate pairs (gt_id, pred_id, iou, si, gt_ignore)
    * already gated at the group's IoU threshold; output one row per
    * matched detection: (pred_id, matched_gt_was_ignored). Pure and
    * Spark-free (the [[nmsGroup]] convention) so the spec fuzzes it
    * against a naive loop.
    */
  private[graft] def greedyMatchGroupIgnore(
      cands: Array[(Long, Long, Double, Long, Boolean)]): scala.collection.Seq[(Long, Boolean)] = {
    val byPred = cands.groupBy(_._2)
    // One score per detection: every candidate row of a pred carries that
    // pred's si (the pair join replicates the detection's score) — made
    // EXPLICIT here rather than silently read off an arbitrary .head, and
    // ordered by an explicit (si DESC, pred_id ASC) Ordering instead of
    // the -x negation idiom (which overflows at Long.MinValue).
    val siOf = byPred.map { case (p, g) =>
      val si = g(0)._4
      require(g.forall(_._4 == si),
        s"greedyMatchGroupIgnore: candidate rows of pred $p carry differing scores")
      p -> si
    }
    val scoreDescPredAsc: Ordering[Long] = Ordering.fromLessThan { (a, b) =>
      val sa = siOf(a); val sb = siOf(b)
      if (sa != sb) sa > sb else a < b
    }
    val order = byPred.keys.toArray.sorted(scoreDescPredAsc)
    val used = scala.collection.mutable.HashSet.empty[Long]
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Boolean)](order.length)
    order.foreach { p =>
      val free = byPred(p).filter(t => !used.contains(t._1))
      if (free.nonEmpty) {
        val best = free.minBy(t => (if (t._5) 1 else 0, -t._3, t._1))
        used += best._1
        out += ((p, best._5))
      }
    }
    out
  }

  /** COCO area ranges (pixel² on the box, pycocotools' constants):
    * index 0 = all, 1 = small (< 32²), 2 = medium ([32², 96²)),
    * 3 = large (≥ 96²). Bounds are [lo, hi). */
  private[graft] val AreaBins: Seq[(Long, String, Long, Long)] = Seq(
    (0L, "all", 0L, Long.MaxValue), (1L, "small", 0L, 1024L),
    (2L, "medium", 1024L, 9216L), (3L, "large", 9216L, Long.MaxValue))

  /** q29i — the full pycocotools SCOREBOARD on the q29e/q29g eval model:
    * the twelve numbers `COCOeval.summarize()` prints — AP@[.5:.95],
    * AP50, AP75, AP across the small/medium/large area ranges, and
    * average recall at maxDets ∈ {1, 10, 100} plus AR across the area
    * ranges. Completes the detector-evaluation surface next to the
    * threshold sweep (q29e/g) and the VOC arms (q29c/f/h): area ranges
    * localize WHERE a detector fails (small-object misses dominate AV
    * perception), maxDets bounds measure ranking quality under a
    * detections budget.
    *
    * Semantics (pycocotools cocoeval.py, greedy arm): detections rank
    * (score DESC, pred_id) per (image, class) and truncate to maxDets
    * BEFORE matching; ground truths outside the cell's area range are
    * IGNORE (not absent) — matching runs through
    * [[greedyMatchGroupIgnore]]; a detection matched to an ignored gt,
    * or unmatched with its OWN area outside the range, is excluded from
    * the ranked PR sweep entirely (neither TP nor FP); n_gt counts only
    * in-range gts, and (area, class) cells with zero in-range gts are
    * excluded from every mean (pycocotools' −1 convention). AP uses
    * pycocotools' OWN 101-point interpolation — the envelope sampled at
    * recall ∈ {0, 0.01, …, 1.00} via the exact integer gate
    * 100·cum_tp ≥ j·n_gt (the q29f eleven-point device widened; a point
    * past the curve contributes 0; the 101-term sum is a fixed
    * left-assoc IEEE chain shared with the oracle) — so the twelve
    * numbers are interpolation-exact pycocotools, unlike q29e/g's
    * documented continuous-integral choice. Recall per cell =
    * n_tp / n_gt at the full (truncated) ranked list.
    *
    * Scale shape: ONE NMS pass and ONE loosest-gate candidate join serve
    * all cells; a bounded 6-combo (area, maxDets) × 10-threshold explode
    * re-gates them (the ti-explode pattern); the greedy kernel runs per
    * bounded (ti, area, maxDet, image, class) group; the ranked sweep
    * windows gain (ab, md) partition columns. Cells are ≤ 6·10·|classes|
    * rows, materialized locally; the twelve metric means ride the
    * DECIMAL carrier over cell values. Same eval-set contract as q29c.
    * Output: (metric_no, metric, n_cells, value), the summarize() order.
    */
  def detCocoScoreboard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (gt, det) = scoredDetections(s, d)
    val kept = nms(det).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tis = (10 to 19).map(_.toLong)
    // the (area bin, maxDets) cells the scoreboard reads: area sweep at
    // the standard 100-det budget, det-budget sweep on the full range
    val combos = Seq((0L, 1L), (0L, 10L), (0L, 100L),
      (1L, 100L), (2L, 100L), (3L, 100L))
    val tiCol = explode(array(tis.map(lit): _*))
    val comboCol = explode(array(combos.map { case (ab, md) =>
      struct(lit(ab).as("ab"), lit(md).as("md"))
    }: _*))
    def inBin(ab: Column, area: Column): Column =
      AreaBins.tail.foldLeft(lit(true)) { case (acc, (i, _, lo, hi)) =>
        when(ab === i, area >= lo && area < hi).otherwise(acc)
      }
    val cellsLocal = try {
      // detection rank within (image, class) — the maxDets truncation key
      val wDr = Window.partitionBy("image_id", "class_id")
        .orderBy(col("si").desc, col("pred_id"))
      val keptR = kept.withColumn("dr", row_number().over(wDr).cast("long"))
        .withColumn("darea", col("w") * col("h"))
      val iw = greatest(lit(0L), least(col("gx") + col("gw"), col("x") + col("w")) - greatest(col("gx"), col("x")))
      val ih = greatest(lit(0L), least(col("gy") + col("gh"), col("y") + col("h")) - greatest(col("gy"), col("y")))
      val pairs0 = gt.withColumn("garea", col("gw") * col("gh"))
        .join(keptR.withColumnRenamed("image_id", "p_image_id")
          .withColumnRenamed("class_id", "p_class_id"),
          col("image_id") === col("p_image_id") && col("class_id") === col("p_class_id"))
        .withColumn("inter", iw * ih)
        .withColumn("uni", col("gw") * col("gh") + col("w") * col("h") - col("inter"))
        .withColumn("iou", col("inter").cast("double") / col("uni"))
        .filter(col("iou") >= 0.5)
        .select(col("image_id"), col("class_id"), col("gt_id"), col("pred_id"),
          col("iou"), col("si"), col("dr"), col("garea"))
      val pairs = pairs0
        .withColumn("ti", tiCol)
        .filter(col("iou") >= col("ti").cast("double") / 20.0)
        .withColumn("c", comboCol)
        .select(col("ti"), col("c.ab").as("ab"), col("c.md").as("md"),
          col("image_id"), col("class_id"), col("gt_id"), col("pred_id"),
          col("iou"), col("si"),
          (!inBin(col("c.ab"), col("garea"))).as("gig"), col("dr"))
        .filter(col("dr") <= col("md"))
      val matched = pairs
        .select(col("ti"), col("ab"), col("md"), col("image_id"), col("class_id"),
          col("gt_id"), col("pred_id"), col("iou"), col("si"), col("gig"))
        .as[(Long, Long, Long, Long, Long, Long, Long, Double, Long, Boolean)]
        .groupByKey { case (ti, ab, md, img, cls, _, _, _, _, _) => (ti, ab, md, img, cls) }
        .flatMapGroups { (key: (Long, Long, Long, Long, Long),
            it: Iterator[(Long, Long, Long, Long, Long, Long, Long, Double, Long, Boolean)]) =>
          greedyMatchGroupIgnore(it.map { case (_, _, _, _, _, g, p, iou, si, gig) =>
            (g, p, iou, si, gig)
          }.toArray).iterator.map { case (p, mig) => (key._1, key._2, key._3, p, mig) }
        }
        .toDF("ti", "ab", "md", "pred_id", "mig")
      // in-range gt counts per (area bin, class) — cells with zero
      // in-range gts never exist (pycocotools' excluded −1 cells).
      // Binned over the DISTINCT area-bin list (combos repeat ab 0 across
      // the three det-budget arms; exploding combos here would triple-
      // count the full-range gts)
      val abCol = explode(array(combos.map(_._1).distinct.map(lit): _*))
      val ngBin = gt.withColumn("garea", col("gw") * col("gh"))
        .withColumn("ab", abCol)
        .filter(inBin(col("ab"), col("garea")))
        .groupBy("ab", "class_id")
        .agg(count(lit(1)).as("n_gt"))
      // the ranked PR sweep: truncated detections minus the IGNORED ones
      val wRank = Window.partitionBy("ti", "ab", "md", "class_id")
        .orderBy(col("si").desc, col("pred_id"))
      val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wEnvRev = Window.partitionBy("ti", "ab", "md", "class_id")
        .orderBy(col("si").asc, col("pred_id").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = keptR
        .withColumn("ti", tiCol)
        .withColumn("c", comboCol)
        .select(col("ti"), col("c.ab").as("ab"), col("c.md").as("md"),
          col("class_id"), col("pred_id"), col("si"), col("dr"), col("darea"))
        .filter(col("dr") <= col("md"))
        .join(matched, Seq("ti", "ab", "md", "pred_id"), "left")
        .withColumn("ignored",
          when(col("mig").isNotNull, col("mig"))
            .otherwise(!inBin(col("ab"), col("darea"))))
        .filter(!col("ignored"))
        .withColumn("is_tp",
          when(col("mig").isNotNull && !col("mig"), 1L).otherwise(0L))
        .withColumn("cum_tp", sum(col("is_tp")).over(wCum))
        .withColumn("rnk", row_number().over(wRank).cast("long"))
        .withColumn("iprec",
          max(col("cum_tp").cast("double") / col("rnk").cast("double")).over(wEnvRev))
      // pycocotools' 101-point interpolated AP: mean of the envelope at
      // recall ∈ {0, 0.01, …, 1.00} — p(j/100) = max iprec over rows with
      // 100·cum_tp ≥ j·n_gt (exact integers; past-the-curve points are 0;
      // fixed left-assoc 101-term chain, engine-portable as-is)
      val ap101 = ((0 to 100).map { j =>
        coalesce(
          max(when(col("cum_tp") * 100 >= lit(j.toLong) * col("n_gt"), col("iprec"))),
          lit(0.0))
      }.reduceLeft(_ + _) / 101.0).as("ap")
      val rawCells = ranked.join(ngBin, Seq("ab", "class_id"))
        .groupBy("ti", "ab", "md", "class_id", "n_gt")
        .agg(sum(col("is_tp")).as("n_tp"), ap101)
      // the cell SKELETON: every (ti, combo, in-range class) exists even
      // when zero detections survive — an all-miss cell must average in
      // as 0, not vanish
      val skeleton = ngBin
        .withColumn("c", comboCol)
        .filter(col("c.ab") === col("ab"))
        .select(col("ab"), col("c.md").as("md"), col("class_id"), col("n_gt"))
        .withColumn("ti", tiCol)
      val cells = skeleton
        .join(rawCells, Seq("ti", "ab", "md", "class_id", "n_gt"), "left")
        .select(col("ti"), col("ab"), col("md"), col("class_id"), col("n_gt"),
          coalesce(col("n_tp"), lit(0L)).as("n_tp"),
          coalesce(col("ap"), lit(0.0)).as("ap"))
        .withColumn("recall", col("n_tp").cast("double") / col("n_gt").cast("double"))
      // bounded at ≤ |tis|·|combos|·|classes| rows — materialize so the
      // twelve metric branches never re-run the sweep (apSweepCells'
      // discipline), then release the NMS cache
      val rows = cells.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), cells.schema)
    } finally kept.unpersist(blocking = false)
    // the twelve summarize() rows: each a decimal-carrier mean over its
    // member cells (AP metrics read `ap`, AR metrics read `recall`).
    // An EMPTY member set (e.g. an eval set with no small-area ground
    // truths) reports the pycocotools summarize() sentinel −1, not NULL:
    // consumers of the scoreboard expect COCO's "metric not defined
    // here" convention, and a NULL would read as a computation failure.
    def metricOf(no: Int, name: String, member: Column, v: Column): DataFrame =
      cellsLocal.filter(member)
        .agg(count(lit(1)).as("n_cells"), davg(v).as("value"))
        .select(lit(no.toLong).as("metric_no"), lit(name).as("metric"),
          col("n_cells"), coalesce(col("value"), lit(-1.0)).as("value"))
    val ab = col("ab"); val md = col("md"); val ti = col("ti")
    Seq(
      metricOf(1, "AP", ab === 0 && md === 100, col("ap")),
      metricOf(2, "AP50", ab === 0 && md === 100 && ti === 10, col("ap")),
      metricOf(3, "AP75", ab === 0 && md === 100 && ti === 15, col("ap")),
      metricOf(4, "AP_small", ab === 1 && md === 100, col("ap")),
      metricOf(5, "AP_medium", ab === 2 && md === 100, col("ap")),
      metricOf(6, "AP_large", ab === 3 && md === 100, col("ap")),
      metricOf(7, "AR_1", ab === 0 && md === 1, col("recall")),
      metricOf(8, "AR_10", ab === 0 && md === 10, col("recall")),
      metricOf(9, "AR_100", ab === 0 && md === 100, col("recall")),
      metricOf(10, "AR_small", ab === 1 && md === 100, col("recall")),
      metricOf(11, "AR_medium", ab === 2 && md === 100, col("recall")),
      metricOf(12, "AR_large", ab === 3 && md === 100, col("recall")))
      .reduce(_ unionByName _)
      .orderBy("metric_no")
  }

  /** q29j — detector CLASS-CONFUSION matrix at IoU ≥ 0.5: matching runs
    * CLASS-AGNOSTIC (candidate pairs keyed by image only — the standard
    * confusion-analysis tool: q29b..q29i all match within (image, class)
    * and so structurally cannot see a detector that finds the object but
    * calls a bike a motorbike), mutual-best by (IoU DESC, ids) — q29b's
    * order-free total-order rule, two rank-1 windows, no sequential
    * state. Output: one row per (gt_class, pred_class) with the matched
    * count — diagonal = localized AND correctly classified, off-diagonal
    * = localized but MISCLASSIFIED — plus the two margin families:
    * (gt_class, −1) = ground truths no detection localized (misses) and
    * (−1, pred_class) = kept detections matching no object (background
    * false positives). Counts are conserved: each gt and each kept
    * detection lands in exactly one row (spec-pinned).
    *
    * Scale shape: NMS first (the q29c pipeline), candidate pairs bounded
    * per image at any corpus size (the eval-set contract), argmax
    * windows partition on box ids, margins are two broadcast anti-joins,
    * the matrix is ≤ (|classes|+1)² rows. Oracled (the q29b window SQL
    * without the class key).
    */
  def detConfusion(s: SparkSession, d: String): DataFrame = {
    val (gt, det) = scoredDetections(s, d)
    val kept = nms(det).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val iw = greatest(lit(0L), least(col("gx") + col("gw"), col("x") + col("w")) - greatest(col("gx"), col("x")))
      val ih = greatest(lit(0L), least(col("gy") + col("gh"), col("y") + col("h")) - greatest(col("gy"), col("y")))
      val pairs = gt.withColumnRenamed("class_id", "gt_class")
        .join(kept.withColumnRenamed("image_id", "p_image_id")
          .withColumnRenamed("class_id", "pred_class"),
          col("image_id") === col("p_image_id"))
        .withColumn("inter", iw * ih)
        .withColumn("uni", col("gw") * col("gh") + col("w") * col("h") - col("inter"))
        .withColumn("iou", col("inter").cast("double") / col("uni"))
        .filter(col("iou") >= 0.5)
        .select(col("gt_id"), col("pred_id"), col("gt_class"), col("pred_class"), col("iou"))
      val bestForPred = Window.partitionBy("pred_id").orderBy(col("iou").desc, col("gt_id"))
      val bestForGt = Window.partitionBy("gt_id").orderBy(col("iou").desc, col("pred_id"))
      val matched = pairs
        .withColumn("rp", row_number().over(bestForPred))
        .withColumn("rg", row_number().over(bestForGt))
        .filter(col("rp") === 1 && col("rg") === 1)
        .select("gt_id", "pred_id", "gt_class", "pred_class")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val confusions = matched.groupBy("gt_class", "pred_class")
          .agg(count(lit(1)).as("n"))
        val missed = gt
          .join(matched.select(col("gt_id")), Seq("gt_id"), "left_anti")
          .groupBy(col("class_id").as("gt_class"))
          .agg(count(lit(1)).as("n"))
          .select(col("gt_class"), lit(-1L).as("pred_class"), col("n"))
        val background = kept
          .join(matched.select(col("pred_id")), Seq("pred_id"), "left_anti")
          .groupBy(col("class_id").as("pred_class"))
          .agg(count(lit(1)).as("n"))
          .select(lit(-1L).as("gt_class"), col("pred_class"), col("n"))
        val out = confusions.unionByName(missed).unionByName(background)
          .orderBy("gt_class", "pred_class")
        // bounded (≤ (|classes|+1)² rows): materialize so both persists
        // release before return (the apSweepCells discipline)
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      } finally matched.unpersist(blocking = false)
    } finally kept.unpersist(blocking = false)
  }

  /** q32 — multi-object track stitching over the detection stream: the
    * tracking-by-detection baseline an AV data lake runs to give per-frame
    * detections a temporal identity (the tracklets labeling and training
    * pipelines consume). Detections on CONSECUTIVE time steps of one
    * camera link when each is the other's best-IoU candidate (q29b's
    * total-order mutual-best rule, IoU >= `iouMin`); a track is a
    * connected chain of links — components via THE shared min-label
    * propagation engine ([[DedupOps.propagateMin]], q55's machinery over
    * a different edge set). Mutual-best keeps the matching 1:1, so
    * components are paths; propagateMin's POINTER JUMPING (path doubling)
    * closes a path of length L in ~log₂(L)+1 rounds — bounded by the log
    * of a camera's recording length, never by corpus size — and each
    * round runs a CONSTANT handful of Spark jobs (the change-detecting
    * snapshot count plus its joins' broadcast collects and AQE
    * materializations), so end-to-end latency is (log₂ max track
    * length)·(a few driver round-trips). Locally those round-trips
    * dominate (the 5.7 s wall / 11.7 CPU-s sf0.1 bench reading is
    * latency, not work); on a cluster the round count is the same while
    * each round moves only the link set. DomainOpsSpec pins BOTH bounds
    * on a worst-case path graph — rounds ≤ log₂(L)+verification via the
    * lastPropagationRounds seam, and total jobs ≤ a constant multiple of
    * rounds — so a regression to O(diameter) rounds or to
    * lineage-replaying rounds fails the suite.
    *
    * The detection boxes are synthesized deterministically from the event
    * stream: each event is one detection on its camera's frame timeline
    * (q20's numbering), 4 objects interleaved round-robin, each object's
    * geometry a linear motion of the time step (wrap-around teleports
    * legitimately split tracks). The tracker sees ONLY geometry —
    * re-discovering the object partition from IoU is the point.
    *
    * Scale shape: frame numbering is one user_id window; the link join
    * keys on (camera, tstep) — bounded candidates per frame pair; the two
    * mutual-best argmax windows partition on detection ids (no hot key);
    * propagation cost rides the link set.
    */
  def trackStitch(s: SparkSession, d: String, iouMin: Double = 0.3): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "det_id")
    val det = Tables.events(s, d)
      .select(col("event_id").as("det_id"), col("user_id"), col("ts"))
      .withColumn("fno", (row_number().over(w) - 1).cast("long"))
      .withColumn("tstep", expr("fno div 4"))
      .withColumn("obj", col("fno") % 4)
      .select(col("det_id"), col("user_id"), col("tstep"),
        ((col("obj") * 160 + col("tstep") * 5) % 700).as("x"),
        ((col("obj") * 120 + col("tstep") * 3) % 500).as("y"),
        (lit(40L) + (col("obj") * 7) % 30).as("wd"),
        (lit(40L) + (col("obj") * 11) % 25).as("ht"))
    val a = det.select(col("det_id").as("cur_id"), col("user_id"), col("tstep"),
      col("x").as("ax"), col("y").as("ay"), col("wd").as("aw"), col("ht").as("ah"))
    val b = det.select(col("det_id").as("nxt_id"), col("user_id").as("ub"),
      (col("tstep") - 1).as("tb"),
      col("x").as("bx"), col("y").as("by"), col("wd").as("bw"), col("ht").as("bh"))
    val iw = greatest(lit(0L),
      least(col("ax") + col("aw"), col("bx") + col("bw")) - greatest(col("ax"), col("bx")))
    val ih = greatest(lit(0L),
      least(col("ay") + col("ah"), col("by") + col("bh")) - greatest(col("ay"), col("by")))
    val links = a.join(b, col("user_id") === col("ub") && col("tstep") === col("tb"))
      .withColumn("inter", iw * ih)
      .withColumn("iou", col("inter").cast("double") /
        (col("aw") * col("ah") + col("bw") * col("bh") - col("inter")))
      .filter(col("iou") >= iouMin)
      .select("cur_id", "nxt_id", "iou")
    val rp = Window.partitionBy("cur_id").orderBy(col("iou").desc, col("nxt_id"))
    val rg = Window.partitionBy("nxt_id").orderBy(col("iou").desc, col("cur_id"))
    val mutual = links
      .withColumn("rp", row_number().over(rp))
      .withColumn("rg", row_number().over(rg))
      .filter(col("rp") === 1 && col("rg") === 1)
      .select(col("cur_id"), col("nxt_id"))
    val labels = DedupOps.propagateMin(s, mutual, maxRounds = 200,
      cacheKey = "track-stitch")
    det
      .join(labels.withColumnRenamed("doc_id", "det_id")
        .withColumnRenamed("canonical", "c"), Seq("det_id"), "left")
      .select(col("det_id"), col("user_id"), col("tstep"),
        coalesce(col("c"), col("det_id")).as("track_id"))
      .groupBy("track_id")
      .agg(min("user_id").as("camera_id"), count(lit(1)).as("n_dets"),
        min("tstep").as("t_first"), max("tstep").as("t_last"))
      .orderBy("track_id")
  }

  /** q35 — sessionized conversion funnel: per user, the first 'click' and
    * whether a 'purchase' follows within 48h — the "image selected ->
    * labeled" conversion tracking of the reference's labeling flow,
    * expressed as two conditional aggregates and one pass.
    */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val winNs = 48L * 3600L * 1000000000L
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "click", col("ts"))).as("first_click_ns"),
        count(when(col("event_type") === "click", 1)).as("n_clicks"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
      .join(
        Tables.events(s, d).filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("pu"))
          .agg(collect_list(col("ts")).as("purchase_ts")),
        col("user_id") === col("pu"), "left")
      .withColumn("converted",
        when(col("first_click_ns").isNotNull && col("purchase_ts").isNotNull,
          exists(col("purchase_ts"),
            t => t >= col("first_click_ns") && t <= col("first_click_ns") + winNs))
          .otherwise(lit(false)))
      .select(col("user_id"),
        call_function("div", coalesce(col("first_click_ns"), lit(0L)), lit(1000L)).as("first_click_us"),
        col("n_clicks"), col("n_purchases"), col("converted"))
      .orderBy("user_id")
  }

  /** q36 — deterministic per-group sampling: multiplicative-hash row
    * selection, stable under any partitioning/cluster size — the sane way
    * to cut a training subset (never rand()).
    */
  def sampleDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter((col("doc_id") * 2654435761L) % 100 < 10)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  /** q30 — deterministic train/val split + class distribution (the
    * RecordIO prep in Transfer-Learning.ipynb): multiplicative-hash split so
    * assignment is stable under any partitioning/cluster size.
    */
  def trainValSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("split",
        when((col("doc_id") * 2654435761L) % 100 < 80, "train").otherwise("val"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "split")
}
