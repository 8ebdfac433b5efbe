package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ego-trajectory statistics over the odometry table
  * (`RosbagReader.odometry` — nav_msgs/Odometry demux, reference
  * bagstream.py:291): the first questions an AV fleet asks of a
  * recording's motion — how far did it drive, how fast, how twisty, how
  * long was it stopped — and the triage gauge for a BROKEN odometry
  * stream (a pose jump reads as an impossible segment speed; a frozen
  * localizer reads as a 100% dwell ratio on a moving rig).
  *
  * Per (bag, topic): pose count, duration, PATH length (Σ consecutive
  * 3-D segment lengths), straight-line DISPLACEMENT first→last pose,
  * tortuosity = path/displacement (NULL on zero displacement — a loop is
  * not infinitely twisty, it is unmeasured by this ratio), mean speed
  * (path/duration), max SEGMENT speed (the pose-jump tripwire), max yaw
  * rate (quaternion-derived heading, shortest-angle wrapped), and the
  * DWELL fraction of time spent in segments slower than `stopThresh`.
  *
  * Scale shape: ONE shuffle — the per-(bag, topic) window sort (the
  * engine's per-recording series pattern: q21/q22/q111) — computing all
  * lag deltas in a single WindowExec pass, then one bounded groupBy
  * rollup (a row per recorded topic). Recordings are the parallelism
  * unit, exactly like every other bag-series operator.
  */
object TrajectoryOps {

  def trajectoryStats(odom: DataFrame, stopThresh: Double = 0.1): DataFrame = {
    // (time_ns, seq) — the seq tie-break keeps duplicate-stamp poses
    // (replayed/merged bags) in one deterministic order, so the landed
    // rollup cannot drift between identical runs (the engine-wide
    // series convention: q112 orders (ts, event_id))
    val w = Window.partitionBy("bag", "topic").orderBy("time_ns", "seq")
    // quaternion yaw (Z-up convention): atan2(2(wz + xy), 1 − 2(y² + z²))
    val yaw = atan2(
      lit(2.0) * (col("ori_w") * col("ori_z") + col("ori_x") * col("ori_y")),
      lit(1.0) - lit(2.0) * (col("ori_y") * col("ori_y") + col("ori_z") * col("ori_z")))
    val seg = odom
      .withColumn("yaw", yaw)
      .withColumn("dx", col("pos_x") - lag("pos_x", 1).over(w))
      .withColumn("dy", col("pos_y") - lag("pos_y", 1).over(w))
      .withColumn("dz", col("pos_z") - lag("pos_z", 1).over(w))
      .withColumn("dt_s", (col("time_ns") - lag("time_ns", 1).over(w)).cast("double") / lit(1e9))
      // shortest-angle yaw delta: wrap into (−π, π] so a 350°→10°
      // heading change reads 20°, not 340°
      .withColumn("dyaw_raw", col("yaw") - lag("yaw", 1).over(w))
      .withColumn("dyaw", col("dyaw_raw")
        - lit(2.0 * math.Pi) * round(col("dyaw_raw") / lit(2.0 * math.Pi)))
      .withColumn("seg_m", sqrt(col("dx") * col("dx") + col("dy") * col("dy") + col("dz") * col("dz")))
      .withColumn("seg_speed", when(col("dt_s") > 0.0, col("seg_m") / col("dt_s")))
      .withColumn("yaw_rate", when(col("dt_s") > 0.0, abs(col("dyaw")) / col("dt_s")))
    seg.groupBy("bag", "topic").agg(
      count(lit(1)).as("n_poses"),
      ((max(col("time_ns")) - min(col("time_ns"))).cast("double") / lit(1e9)).as("duration_s"),
      sum(col("seg_m")).as("path_m"),
      max(col("seg_speed")).as("max_seg_speed"),
      max(col("yaw_rate")).as("max_yaw_rate"),
      sum(when(col("seg_speed") < stopThresh, col("dt_s"))).as("dwell_s"),
      // displacement between the endpoint poses, taken in the window's
      // (time_ns, seq) order by the rollup itself, so the lags above are
      // the only window pass
      min_by(struct(col("pos_x"), col("pos_y"), col("pos_z")),
        struct(col("time_ns"), col("seq"))).as("first"),
      max_by(struct(col("pos_x"), col("pos_y"), col("pos_z")),
        struct(col("time_ns"), col("seq"))).as("last"))
      .withColumn("displacement_m", sqrt(
        (col("last.pos_x") - col("first.pos_x")) * (col("last.pos_x") - col("first.pos_x")) +
        (col("last.pos_y") - col("first.pos_y")) * (col("last.pos_y") - col("first.pos_y")) +
        (col("last.pos_z") - col("first.pos_z")) * (col("last.pos_z") - col("first.pos_z"))))
      .withColumn("tortuosity",
        when(col("displacement_m") > 0.0, col("path_m") / col("displacement_m")))
      .withColumn("mean_speed",
        when(col("duration_s") > 0.0, col("path_m") / col("duration_s")))
      .withColumn("dwell_frac",
        when(col("duration_s") > 0.0, coalesce(col("dwell_s"), lit(0.0)) / col("duration_s")))
      .select(col("bag"), col("topic"), col("n_poses"), col("duration_s"),
        col("path_m"), col("displacement_m"), col("tortuosity"),
        col("mean_speed"), col("max_seg_speed"), col("max_yaw_rate"),
        col("dwell_frac"))
      .orderBy("bag", "topic")
  }
}
