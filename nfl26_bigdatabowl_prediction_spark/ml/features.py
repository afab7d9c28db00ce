"""The reference's feature-engineering pipeline, Spark-first.

Four composable stages over the tracking-shaped table (one row per
(game_id, play_id, nfl_id, frame_id)), mirroring the reference's call
graph (SURVEY §3 E1 steps 2-6) but expressed as ONE lazy DataFrame
DAG so Catalyst fuses the column math into whole-stage codegen:

  advanced_features     main_cuda.py:157-204   row-local physics
  sequence_features     main_cuda.py:208-233   trajectory windows
  ensemble_features     main_cuda.py:237-294   formation stats + cyclical
  gnn_lite_features     main_cuda.py:301-398   neighbor embeddings
  build_training_rows   main_cuda.py:404-439   as-of labels + baseline

Scale: stages 2-3 share the trajectory partitioning (one shuffle);
stage 4 joins on the play key then re-windows per ego — the only other
shuffle.  Every scalar is a built-in (no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.scalar import clip, dummy, parse_feet_inches
from ..schema import FRAME_KEY, TRAJECTORY_KEY

GNN_RADIUS = 30.0  # yards (main_cuda.py:336)
GNN_K = 6  # neighbors (main_cuda.py:344)
GNN_TAU = 6.0  # softmax temperature (main_cuda.py:350)


def _traj_window():
    return W.partitionBy(*TRAJECTORY_KEY).orderBy("frame_id")


def last_frames(df: DataFrame, n: int) -> DataFrame:
    """The last ``n`` frames of every trajectory (row_number over the
    trajectory key by frame_id descending, rn ≤ n)."""
    w = W.partitionBy(*TRAJECTORY_KEY).orderBy(F.col("frame_id").desc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .drop("rn")
    )


def advanced_features(df: DataFrame) -> DataFrame:
    """Row-local physics features (main_cuda.py:157-204; md/physics.md
    derivations).  Pure projection — fused into the scan by codegen."""
    dir_rad = F.radians(F.col("dir"))
    s = F.coalesce(F.col("s"), F.lit(0.0))
    a = F.coalesce(F.col("a"), F.lit(0.0))
    vx = s * F.sin(dir_rad)
    vy = s * F.cos(dir_rad)
    dxb = F.col("ball_land_x") - F.col("x")
    dyb = F.col("ball_land_y") - F.col("y")
    dist_to_ball = F.sqrt(dxb * dxb + dyb * dyb)
    angle_to_ball = F.atan2(dyb, dxb)
    height_in = parse_feet_inches(F.col("player_height"), default=72.0)
    weight = F.coalesce(F.col("player_weight"), F.lit(200.0))
    return (
        df.withColumn("height_inches", height_in)
        .withColumn("bmi", weight / (height_in * height_in) * F.lit(703.0))
        .withColumn("vx", vx)
        .withColumn("vy", vy)
        .withColumn("ax", a * F.sin(dir_rad))
        .withColumn("ay", a * F.cos(dir_rad))
        .withColumn("dist_to_ball", dist_to_ball)
        .withColumn("angle_to_ball", angle_to_ball)
        .withColumn(
            "velocity_toward_ball",
            vx * F.cos(angle_to_ball) + vy * F.sin(angle_to_ball),
        )
        .withColumn("momentum", weight * s)
        .withColumn("kinetic_energy", F.lit(0.5) * weight * s * s)
        .withColumn("is_targeted", dummy(F.col("player_role"), "Targeted Receiver"))
        .withColumn("is_passer", dummy(F.col("player_role"), "Passer"))
        .withColumn("is_coverage", dummy(F.col("player_role"), "Defensive Coverage"))
        .withColumn("is_offense", dummy(F.col("player_side"), "Offense"))
        .withColumn(
            "dist_to_sideline",
            F.least(F.col("y"), F.lit(53.3) - F.col("y")),
        )
    )


def sequence_features(
    df: DataFrame,
    lag_cols: tuple[str, ...] = ("x", "y", "s", "a", "dir", "dist_to_ball"),
    lags: range = range(1, 6),
    roll_windows: tuple[int, ...] = (3, 5),
) -> DataFrame:
    """Trajectory-window features (main_cuda.py:208-233): lags 1..5 ×
    6 cols, rolling mean/std of s and a, first derivatives, route
    sharpness.  All on ONE window partitioning."""
    w = _traj_window()
    out = df
    for c in lag_cols:
        for k in lags:
            out = out.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
    for win in roll_windows:
        wf = w.rowsBetween(-(win - 1), 0)
        for c in ("s", "a"):
            out = out.withColumn(f"{c}_roll{win}_mean", F.avg(c).over(wf))
            out = out.withColumn(f"{c}_roll{win}_std", F.stddev_samp(c).over(wf))
    out = out.withColumn("speed_change", F.col("s") - F.lag("s", 1).over(w))
    out = out.withColumn("direction_change", F.col("dir") - F.lag("dir", 1).over(w))
    out = out.withColumn(
        "route_sharpness",
        F.stddev_samp("direction_change").over(w.rowsBetween(-2, 0)),
    )
    return out


def sequence_features_rich(df: DataFrame) -> DataFrame:
    """The main_mps.py sequence-feature variant (main_mps.py:185-223):
    lags 1..8 over 8 cols, rolling {3,5,7,10} mean/std PLUS max/min,
    and second derivatives (speed_jerk).  Same single trajectory
    partitioning as sequence_features — the wider column set adds no
    exchange."""
    out = sequence_features(
        df,
        lag_cols=("x", "y", "s", "a", "dir", "dist_to_ball", "vx", "vy"),
        lags=range(1, 9),
        roll_windows=(3, 5, 7, 10),
    )
    w = _traj_window()
    for win in (3, 5, 7, 10):
        wf = w.rowsBetween(-(win - 1), 0)
        for c in ("s", "a"):
            out = out.withColumn(f"{c}_roll{win}_max", F.max(c).over(wf))
            out = out.withColumn(f"{c}_roll{win}_min", F.min(c).over(wf))
    return out.withColumn(
        "speed_jerk", F.col("speed_change") - F.lag("speed_change", 1).over(w)
    )


def ewm_features(
    df: DataFrame,
    cols: tuple[str, ...] = ("x", "y", "s", "a", "dist_to_ball"),
    alphas: tuple[float, ...] = (0.3, 0.5, 0.7),
) -> DataFrame:
    """EWM feature columns (main_mps.py:233-240, ewm(alpha,
    adjust=False)): the y_t = a*x_t + (1-a)*y_{t-1} recurrence has no
    windowed-builtin form, so each trajectory is collected in frame
    order, folded once per (col, alpha) — O(frames) per trajectory —
    and exploded back; the result rejoins on (trajectory, frame_id),
    landing on the SAME key partitioning the window suite already
    shuffled by.  State per fold step is one double: this is the
    batch twin of streaming/stateful.py's applyInPandasWithState
    operator, with identical literals so both match pandas bitwise."""
    tags = [f"{c}_ewm{int(a * 10):02d}" for c in cols for a in alphas]
    packed = F.struct(
        F.col("frame_id").alias("f"), *[F.col(c).alias(c) for c in cols]
    )
    g = df.groupBy(*TRAJECTORY_KEY).agg(
        F.array_sort(F.collect_list(packed)).alias("traj")
    )
    sel = [*TRAJECTORY_KEY, F.expr("transform(traj, x -> x.f)").alias("_f")]
    for c in cols:
        for a in alphas:
            tag = f"{c}_ewm{int(a * 10):02d}"
            # pandas NaN semantics (ewm(alpha, adjust=False),
            # ignore_na=False): a NaN row emits the carried EWM and
            # widens the gap; the next valid value after g NaNs blends
            # with old-weight k=(1-alpha)^(g+1), normalized by (k+a);
            # a gapless step is the plain recurrence.  Verified
            # bitwise against pandas in tests/test_tracking_pipeline.
            om = 1.0 - a
            upd = f"{a}d * v + {om}d * acc.y"
            k = f"power({om}d, acc.g + 1)"
            gap_upd = f"({k} * acc.y + {a}d * v) / ({k} + {a}d)"
            sel.append(
                F.expr(
                    f"""
                    aggregate(
                        transform(traj, x -> cast(x.{c} as double)),
                        struct(cast(array() as array<double>) as o,
                               cast(null as double) as y, 0 as g),
                        (acc, v) -> case
                            when v is null or isnan(v)
                                then struct(array_append(acc.o, acc.y) as o,
                                            acc.y as y, acc.g + 1 as g)
                            when acc.y is null
                                then struct(array_append(acc.o, v) as o,
                                            v as y, 0 as g)
                            when acc.g = 0
                                then struct(array_append(acc.o, {upd}) as o,
                                            {upd} as y, 0 as g)
                            else struct(array_append(acc.o, {gap_upd}) as o,
                                        {gap_upd} as y, 0 as g)
                        end,
                        acc -> acc.o)
                    """
                ).alias(tag)
            )
    arr = g.select(*sel)
    z = arr.select(
        *TRAJECTORY_KEY, F.explode(F.arrays_zip("_f", *tags)).alias("z")
    )
    feat = z.select(
        *TRAJECTORY_KEY,
        F.col("z._f").alias("frame_id"),
        *[F.col(f"z.{t}").alias(t) for t in tags],
    )
    return df.join(feat, [*TRAJECTORY_KEY, "frame_id"], "left")


def ensemble_features(df: DataFrame) -> DataFrame:
    """Formation stats + cyclical encodings (main_cuda.py:237-294):
    per-(game,play,side) transform stats of x/y/s, frame cyclical
    encode, accel-velocity alignment."""
    wside = W.partitionBy("game_id", "play_id", "player_side")
    out = df
    for c in ("x", "y", "s"):
        out = (
            out.withColumn(f"team_{c}_mean", F.avg(c).over(wside))
            .withColumn(f"team_{c}_std", F.stddev_samp(c).over(wside))
            .withColumn(f"team_{c}_min", F.min(c).over(wside))
            .withColumn(f"team_{c}_max", F.max(c).over(wside))
        )
    two_pi = 2.0 * 3.141592653589793
    speed_sq = F.col("vx") * F.col("vx") + F.col("vy") * F.col("vy")
    acc_sq = F.col("ax") * F.col("ax") + F.col("ay") * F.col("ay")
    return (
        out.withColumn("frame_sin", F.sin(F.lit(two_pi) * F.col("frame_id") / 10.0))
        .withColumn("frame_cos", F.cos(F.lit(two_pi) * F.col("frame_id") / 10.0))
        .withColumn(
            "accel_vel_alignment",
            (F.col("ax") * F.col("vx") + F.col("ay") * F.col("vy"))
            / (F.sqrt(speed_sq * acc_sq) + F.lit(1e-6)),
        )
    )


def gnn_lite_features(df: DataFrame) -> DataFrame:
    """Neighbor-embedding block (main_cuda.py:301-398), per trajectory:

    last frame per trajectory → self-join all players at that frame →
    euclidean radius filter → top-K by distance → softmax(τ) weights →
    ally/opp masked weighted aggregates → rank pivot d1..d3 → fills.

    Returns one row per trajectory key with gnn_* columns; callers
    left-join it back (main_cuda.py:1380).  The self-join is equi on
    (game_id, play_id, frame_id) — group-bounded fanout (≤22 players).
    """
    ego = last_frames(df, 1).select(
        *TRAJECTORY_KEY,
        F.col("frame_id").alias("last_frame_id"),
        F.col("x").alias("ego_x"),
        F.col("y").alias("ego_y"),
        F.col("player_side").alias("ego_side"),
    )
    nb = df.select(
        F.col("game_id").alias("g"),
        F.col("play_id").alias("p"),
        F.col("frame_id").alias("f"),
        F.col("nfl_id").alias("nb_nfl_id"),
        F.col("x").alias("nb_x"),
        F.col("y").alias("nb_y"),
        F.col("s").alias("nb_s"),
        F.coalesce(F.col("player_side"), F.lit("")).alias("nb_side"),
    )
    j = ego.join(
        nb,
        (ego.game_id == nb.g)
        & (ego.play_id == nb.p)
        & (ego.last_frame_id == nb.f)
        & (ego.nfl_id != nb.nb_nfl_id),
        "inner",
    )
    dx = F.col("nb_x") - F.col("ego_x")
    dy = F.col("nb_y") - F.col("ego_y")
    dist = F.sqrt(dx * dx + dy * dy)
    cand = (
        j.withColumn("dx", dx)
        .withColumn("dy", dy)
        .withColumn("dist", dist)
        .filter(
            ~F.isnan(F.col("dist"))
            & (F.col("dist") > 1e-6)
            & (F.col("dist") <= GNN_RADIUS)
        )
    )
    wrank = W.partitionBy(*TRAJECTORY_KEY).orderBy(
        F.col("dist").asc(), F.col("nb_nfl_id").asc()
    )
    topk = cand.withColumn("rnk", F.row_number().over(wrank)).filter(
        F.col("rnk") <= GNN_K
    )
    w_raw = F.exp(-F.col("dist") / GNN_TAU)
    wsum = F.sum(w_raw).over(W.partitionBy(*TRAJECTORY_KEY))
    weighted = topk.withColumn(
        "wn", F.when(wsum > 0, w_raw / wsum).otherwise(F.lit(0.0))
    ).withColumn(
        "is_ally",
        F.when(F.col("nb_side") == F.col("ego_side"), F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    dist_ally = F.when(F.col("is_ally") == 1.0, F.col("dist"))
    agg = weighted.groupBy(*TRAJECTORY_KEY).agg(
        F.sum(F.col("dx") * F.col("wn")).alias("gnn_dx_wmean"),
        F.sum(F.col("dy") * F.col("wn")).alias("gnn_dy_wmean"),
        F.sum(F.col("nb_s") * F.col("wn")).alias("gnn_s_wmean"),
        F.min(dist_ally).alias("gnn_ally_dist_min"),
        F.avg(dist_ally).alias("gnn_ally_dist_mean"),
        F.sum("is_ally").alias("gnn_ally_cnt"),
        (F.count(F.lit(1)) - F.sum("is_ally")).alias("gnn_opp_cnt"),
        F.max(F.when(F.col("rnk") == 1, F.col("dist"))).alias("gnn_d1"),
        F.max(F.when(F.col("rnk") == 2, F.col("dist"))).alias("gnn_d2"),
        F.max(F.when(F.col("rnk") == 3, F.col("dist"))).alias("gnn_d3"),
    )
    out = ego.select(*TRAJECTORY_KEY).join(agg, TRAJECTORY_KEY, "left")
    # P8 per-column conditional fill (main_cuda.py:389-396): distance
    # cols → RADIUS, weighted/count cols → 0.
    fills = {
        "gnn_dx_wmean": 0.0,
        "gnn_dy_wmean": 0.0,
        "gnn_s_wmean": 0.0,
        "gnn_ally_cnt": 0.0,
        "gnn_opp_cnt": 0.0,
        "gnn_d1": GNN_RADIUS,
        "gnn_d2": GNN_RADIUS,
        "gnn_d3": GNN_RADIUS,
        "gnn_ally_dist_min": GNN_RADIUS,
        "gnn_ally_dist_mean": GNN_RADIUS,
    }
    return out.na.fill(fills)


def build_training_rows(input_df: DataFrame, output_df: DataFrame) -> DataFrame:
    """As-of label build (main_cuda.py:404-439): each output frame ⟕
    the last input frame of its trajectory; Δt from the output
    frame_id (output frames restart at 1, 10 Hz — FIXTURES §3);
    constant-velocity baseline + residual labels.
    """
    last = last_frames(input_df, 1).select(
        *TRAJECTORY_KEY,
        F.col("x").alias("last_x"),
        F.col("y").alias("last_y"),
        F.col("vx").alias("last_vx"),
        F.col("vy").alias("last_vy"),
    )
    out = output_df.select(
        *TRAJECTORY_KEY,
        F.col("frame_id").alias("out_frame_id"),
        F.col("x").alias("target_x"),
        F.col("y").alias("target_y"),
    )
    j = out.join(last, TRAJECTORY_KEY, "left")
    dt = F.greatest(F.lit(0.0), F.col("out_frame_id") / F.lit(10.0))
    px = clip(F.col("last_x") + F.col("last_vx") * dt, 0.0, 120.0)
    py = clip(F.col("last_y") + F.col("last_vy") * dt, 0.0, 53.3)
    return (
        j.withColumn("delta_t", dt)
        .withColumn("baseline_x", px)
        .withColumn("baseline_y", py)
        .withColumn("res_x", F.col("target_x") - px)
        .withColumn("res_y", F.col("target_y") - py)
        .withColumn(
            "id",
            F.concat_ws(
                "_", "game_id", "play_id", "nfl_id", "out_frame_id"
            ),
        )
    )


def full_feature_pipeline(input_df: DataFrame) -> DataFrame:
    """Stages 2-5 of E1 (SURVEY §3) as one lazy DAG."""
    base = advanced_features(input_df)
    feat = ensemble_features(sequence_features(base))
    return feat.join(gnn_lite_features(base), TRAJECTORY_KEY, "left")
