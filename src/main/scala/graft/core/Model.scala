package graft.core

import java.sql.Timestamp

/** Core row types of the engine (SURVEY.md §1.3 Spark mapping).
  *
  * `Transcript` is the input-table shape from BASELINE.json `input_hint`;
  * `CcRow` mirrors the reference CC dataset variables
  * (/root/reference/xcorr/core/init.py:25-327);
  * `RollupRow` is the engine-new continuous-aggregate cell whose stats
  * compose exactly across tiers (1h = fold(1m), 1d = fold(1h));
  * `ManifestRow` carries the status-flag checkpoint semantics of
  * /root/reference/xcorr/core/init.py:237-249 (-1 missing, 0 todo, 1 done).
  */
final case class Transcript(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

final case class CcRow(
    pair: String, // "convA-convB", A < B (init.py:154 pair codec)
    metric: String,
    win_start: Timestamp,
    cc: Array[Double],
    status: Byte,
    pair_offset: Double,
    time_offset: Double,
    shift: Double,
    cc_max: Double,
    npts: Int, // input vector length n (cc covers lag indices [lag0, lag0+len) of the full 2n-1 axis)
    lag0: Int, // index on the full lag axis of cc(0) — 0 unless lag-clipped (init.py:197-209 index_min analog)
    input_hash: String // optional sha256 of the two input windows (init.py:252-272); "" when disabled
)

final case class RollupRow(
    conv_id: String,
    metric: String,
    chunk_start: Timestamp,
    n: Long,
    sum: Double,
    min: Double,
    max: Double,
    first: Double,
    last: Double
)

final case class ManifestRow(
    job_id: String,
    stage: String,
    partition_key: String,
    status: Byte, // -1 missing_data, 0 not_processed, 1 processed
    rows_in: Long,
    rows_out: Long,
    started_ts: Timestamp,
    finished_ts: Timestamp,
    input_hash: String,
    history: String
)
