"""Incremental model updates (folding-in / Brand) + streaming rollup."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tslib_spark.kernels import linalg
from tslib_spark.kernels.svd_kernel import ModelConfig
from tslib_spark.streaming.incremental import fit_state, impute_from_state, update_state


def tidy(series: np.ndarray, gid="g0", key="t1", start_idx=0):
    return pd.DataFrame(
        {
            "group_id": gid,
            "series_key": key,
            "bucket_idx": np.arange(start_idx, start_idx + len(series), dtype=np.int64),
            "value": series,
        }
    )


@pytest.fixture(scope="module")
def low_rank_series():
    rng = np.random.default_rng(5)
    N, M_total = 20, 40
    # rank-3 latent structure so folding-in tracks well
    U = rng.normal(size=(N, 3))
    V = rng.normal(size=(3, M_total))
    mat = U @ V
    return N, M_total, mat


def test_incremental_update_matches_oracle(spark, low_rank_series):
    N, M_total, mat = low_rank_series
    M0 = 35
    k = 3
    base = mat[:, :M0].flatten("F")
    new_block = mat[:, M0:].flatten("F")

    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=k)
    state0 = fit_state(spark.createDataFrame(tidy(base)), cfg).cache()
    s0 = state0.toPandas().iloc[0]
    assert s0["times_updated"] == 0
    assert len(s0["weights"]) == N - 1

    new_df = spark.createDataFrame(tidy(new_block, start_idx=N * M0))
    state1 = update_state(state0, new_df, method="folding-in").cache()
    s1 = state1.toPandas().iloc[0]
    assert s1["times_updated"] == 1
    assert len(s1["last_row"]) == M_total
    assert len(s1["imputed_new"]) == N * (M_total - M0)

    # oracle: same update math straight from numpy primitives
    mid = linalg.middle_value(base)
    filled = np.where(np.isnan(base), mid, base)
    m0 = filled.reshape(M0, N).T
    sk, uk, vk = linalg.svd_topk(m0, k)
    skw, ukw, vkw = linalg.svd_topk(m0[:-1, :], k)
    D = new_block.reshape(M_total - M0, N).T
    uk2, sk2, vk2 = linalg.update_svd_folding_in(D, uk, sk, vk)
    want_new = linalg.reconstruct(sk2, uk2, vk2[-(M_total - M0):, :]).flatten("F")
    np.testing.assert_allclose(np.asarray(s1["imputed_new"]), want_new, atol=1e-8)

    ukw2, skw2, vkw2 = linalg.update_svd_folding_in(D[:-1, :], ukw, skw, vkw)
    want_w = linalg.pinv_from_svd(skw2, ukw2, vkw2).T @ np.append(m0[-1, :], D[-1, :])
    np.testing.assert_allclose(np.asarray(s1["weights"]), want_w, atol=1e-8)

    # on a truly low-rank series, folding-in imputation stays accurate
    assert linalg.rmse(np.asarray(s1["imputed_new"]), new_block) < 1e-6


def test_brand_update_tracks_full_refit(spark, low_rank_series):
    N, M_total, mat = low_rank_series
    M0, k = 35, 3
    base = mat[:, :M0].flatten("F")
    new_block = mat[:, M0:].flatten("F")
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=k)
    state0 = fit_state(spark.createDataFrame(tidy(base)), cfg)
    state1 = update_state(state0, spark.createDataFrame(tidy(new_block, start_idx=N * M0)), method="brand")
    # impute_from_state reconstructs the whole maintained series
    full = impute_from_state(state1).toPandas().sort_values(["col_idx", "row_idx"])
    got = full["value"].to_numpy()
    want = linalg.hsvt(mat, k).flatten("F")  # full refit on all data
    np.testing.assert_allclose(got, want, atol=1e-6)


def test_update_when_weights_rank_below_k(spark, low_rank_series):
    """cfg.k above the past-only design's row count: the weights SVD clamps
    to kw < k. State must carry kw separately so the update reshape works
    (regression: a single k column made reshape(-1, k) raise)."""
    N, M_total, mat = low_rank_series
    M0 = 35
    base = mat[:, :M0].flatten("F")
    new_block = mat[:, M0:].flatten("F")
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=N + 5)  # k > N-1 design rows
    state0 = fit_state(spark.createDataFrame(tidy(base)), cfg)
    s0 = state0.toPandas().iloc[0]
    assert s0["kw"] < s0["k"]
    s1 = (
        update_state(state0, spark.createDataFrame(tidy(new_block, start_idx=N * M0)))
        .toPandas()
        .iloc[0]
    )
    assert s1["times_updated"] == 1 and len(s1["last_row"]) == M_total


def test_state_passthrough_when_no_new_data(spark, low_rank_series):
    N, M_total, mat = low_rank_series
    cfg = ModelConfig(target_key="t1", N=N, M=35, k=3)
    base = mat[:, :35].flatten("F")
    state0 = fit_state(spark.createDataFrame(tidy(base)), cfg)
    empty = spark.createDataFrame([], "group_id string, bucket_idx long, value double")
    out = update_state(state0, empty).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["times_updated"] == 0


def test_streaming_rollup_matches_batch(spark, tmp_path):
    from tslib_spark.operators.rollup import rollup
    from tslib_spark.streaming.stream import streaming_rollup

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "stream_src")
    events.write.parquet(src)
    schema = events.schema.simpleString().replace("struct<", "").rstrip(">").replace(":", " ")

    agg = streaming_rollup(
        spark, src, schema, ["event_type"], "ts", "value", window="1 hour"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select * from stream_out").toPandas()
    want = rollup(events, ["event_type"], "ts", "value", "hour").toPandas()
    # append mode emits only watermark-closed windows; on a finite source
    # the last window(s) may be withheld — compare the emitted subset
    assert len(got) >= 0.9 * len(want)
    m = got.merge(want, on=["event_type", "bucket_ts"], suffixes=("_s", "_b"))
    assert len(m) == len(got)
    assert (m["cnt_s"] == m["cnt_b"]).all()
    assert (m["val_sum_s"].astype(float) == m["val_sum_b"].astype(float)).all()


def test_stream_update_svd_matches_sequential_batch(spark, tmp_path, low_rank_series):
    """readStream → foreachBatch updateSVD: streaming two block files in
    arrival order produces exactly the state of two sequential batch
    updates (atomic swap leaves a valid state at every commit point)."""
    import time as _time

    from tslib_spark.streaming.model_stream import stream_update_svd

    N, M_total, mat = low_rank_series
    M0 = 36
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=3)
    base = mat[:, :M0].flatten("F")
    blocks = [mat[:, M0 + i : M0 + i + 2].flatten("F") for i in range(0, 4, 2)]

    state_dir = str(tmp_path / "model_state")
    fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(state_dir)

    src = str(tmp_path / "blocks")
    schema = "group_id string, bucket_idx long, value double"
    start = N * M0
    for i, blk in enumerate(blocks):
        pdf = tidy(blk, start_idx=start + i * len(blk))[["group_id", "bucket_idx", "value"]]
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes → deterministic file order

    q = stream_update_svd(
        spark, src, schema, state_dir,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert got["times_updated"] == 2

    # oracle: the same two updates applied sequentially in batch
    s = fit_state(spark.createDataFrame(tidy(base)), cfg)
    for i, blk in enumerate(blocks):
        nd = spark.createDataFrame(
            tidy(blk, start_idx=start + i * len(blk))[["group_id", "bucket_idx", "value"]]
        )
        s = update_state(s, nd)
    want = s.toPandas().iloc[0]
    assert want["times_updated"] == 2
    np.testing.assert_allclose(got["weights"], want["weights"], atol=1e-12)
    np.testing.assert_allclose(got["last_row"], want["last_row"], atol=0)
    np.testing.assert_allclose(got["sk"], want["sk"], atol=1e-12)


def test_stream_replay_and_kill_recovery(spark, tmp_path, low_rank_series):
    """At-least-once durability: (a) re-running the stream WITHOUT a
    checkpoint replays every file from epoch 0 — the _applied_epoch marker
    must no-op the replay instead of double-folding the blocks; (b) a kill
    between the two swap renames (state stranded in .old) is repaired by
    recover_state on the next entry."""
    import time as _time

    from tslib_spark.streaming.model_stream import recover_state, stream_update_svd

    N, M_total, mat = low_rank_series
    M0 = 36
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=3)
    base = mat[:, :M0].flatten("F")
    blocks = [mat[:, M0 + i : M0 + i + 2].flatten("F") for i in range(0, 4, 2)]

    state_dir = str(tmp_path / "model_state")
    fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(state_dir)

    src = str(tmp_path / "blocks")
    schema = "group_id string, bucket_idx long, value double"
    start = N * M0
    for i, blk in enumerate(blocks):
        pdf = tidy(blk, start_idx=start + i * len(blk))[["group_id", "bucket_idx", "value"]]
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    q = stream_update_svd(spark, src, schema, state_dir, max_files_per_trigger=1)
    q.awaitTermination(120)
    first = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert first["times_updated"] == 2

    # (a) restart with NO checkpoint: every epoch replays; state must not move
    q2 = stream_update_svd(spark, src, schema, state_dir, max_files_per_trigger=1)
    q2.awaitTermination(120)
    replayed = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert replayed["times_updated"] == 2, "replayed epochs were folded twice"
    np.testing.assert_allclose(replayed["sk"], first["sk"], atol=0)

    # (b) simulate a kill between the two renames: state stranded in .old
    import os

    os.rename(state_dir, state_dir + ".old")
    assert recover_state(state_dir)
    recovered = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert recovered["times_updated"] == 2


def test_update_from_store_folds_manifest_delta(spark, tmp_path, low_rank_series):
    """Snapshot-driven incrementality: TierStore's checkpoint manifest is
    the snapshot log; update_from_store folds exactly the unapplied
    partition delta — no caller-supplied frames. Two materialized batches
    → two calls fold one day each; the state matches the sequential
    update_state oracle exactly, the reconstruction matches a full refit
    at 1e-8 (exact low-rank data), and a third call is a no-op."""
    import pandas as _pd

    from tslib_spark.operators.retention import TierStore
    from tslib_spark.streaming.incremental import impute_from_state
    from tslib_spark.streaming.model_stream import update_from_store

    N, M_total, mat = low_rank_series
    M0 = 36
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=3)
    base = mat[:, :M0].flatten("F")
    state_dir = str(tmp_path / "state")
    fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(state_dir)

    # two "days" of new minute buckets, 2 columns (2N points... 40) each
    origin = _pd.Timestamp("2026-03-02 00:00:00")
    day_blocks = [mat[:, M0 + 2 * i : M0 + 2 * i + 2].flatten("F") for i in range(2)]
    store = TierStore(spark, str(tmp_path / "store"), keys=["series_key"])

    def tier_rows(day: int, values: np.ndarray) -> _pd.DataFrame:
        ts = [
            (origin + _pd.Timedelta(days=day, minutes=int(j))).to_pydatetime()
            for j in range(len(values))
        ]
        return _pd.DataFrame(
            {
                "series_key": "t1",
                "bucket_ts": ts,
                "cnt": 1,
                "val_sum": values,
                "val_min": values,
                "val_max": values,
            }
        )

    def to_blocks(df):
        # minute offset within its day → running bucket_idx after the base
        minute = (F.unix_timestamp("bucket_ts") / 60).cast("long")
        origin_min = int(origin.timestamp() // 60)
        day = F.floor((minute - origin_min) / 1440)
        within = (minute - origin_min) % 1440
        return df.select(
            F.lit("g0").alias("group_id"),
            (F.lit(N * M0) + day * (2 * N) + within).cast("long").alias("bucket_idx"),
            F.col("val_sum").cast("double").alias("value"),
        )

    store.materialize("minute", spark.createDataFrame(tier_rows(0, day_blocks[0])))
    folded = update_from_store(spark, store, "minute", state_dir, to_blocks)
    assert folded == ["2026-03-02"]

    store.materialize("minute", spark.createDataFrame(tier_rows(1, day_blocks[1])))
    folded = update_from_store(spark, store, "minute", state_dir, to_blocks)
    assert folded == ["2026-03-03"]
    assert update_from_store(spark, store, "minute", state_dir, to_blocks) == []

    got = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert got["times_updated"] == 2

    # oracle: the same two updates via caller-supplied frames
    s = fit_state(spark.createDataFrame(tidy(base)), cfg)
    for i, blk in enumerate(day_blocks):
        nd = spark.createDataFrame(
            tidy(blk, start_idx=N * M0 + i * len(blk))[["group_id", "bucket_idx", "value"]]
        )
        s = update_state(s, nd)
    want = s.toPandas().iloc[0]
    np.testing.assert_allclose(got["sk"], want["sk"], atol=1e-12)
    np.testing.assert_allclose(got["weights"], want["weights"], atol=1e-12)
    np.testing.assert_allclose(got["last_row"], want["last_row"], atol=0)

    # and the incrementally-maintained reconstruction equals a full refit
    # on this exact low-rank panel
    rec = (
        impute_from_state(spark.read.parquet(state_dir))
        .toPandas()
        .sort_values(["col_idx", "row_idx"])["value"]
        .to_numpy()
    )
    full = mat[:, : M0 + 4]
    sk_f, uk_f, vk_f = linalg.svd_topk(full, 3)
    np.testing.assert_allclose(rec, linalg.reconstruct(sk_f, uk_f, vk_f).flatten("F"), atol=1e-8)


def test_streaming_dedup_drops_repeated_content(spark, tmp_path):
    """dropDuplicatesWithinWatermark on the content fingerprint: repeated
    text within the horizon is emitted once; distinct texts all pass."""
    import pandas as pd

    from tslib_spark.streaming.stream import streaming_dedup

    src = str(tmp_path / "dedup_src")
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00"] * 3 + ["2024-01-01 00:05:00"] * 3
            ),
            "text": ["same text", "same text", "unique a", "same text", "unique b", "unique a"],
        }
    )
    spark.createDataFrame(rows).write.parquet(src)

    out = streaming_dedup(
        spark, src, "doc_id bigint, ts timestamp, text string",
        content_cols=["text"], ts_col="ts",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select text from dedup_out").toPandas()
    # one row per distinct text, regardless of how many dups arrived
    assert sorted(got["text"].tolist()) == ["same text", "unique a", "unique b"]


def test_stream_restart_grown_source_folds_new_files(spark, tmp_path, low_rank_series):
    """The r4 replay-guard fix: a restart WITHOUT checkpoint_dir over a
    source that grew must fold exactly the new files — under the old
    ``epoch_id <= applied`` guard the restarted epochs 0..N were treated
    as replays and the new data silently dropped. Worse, a restart with a
    larger trigger re-batches an old file together with a new one; the
    file-set guard folds only the new half of that mixed batch."""
    import time as _time

    from tslib_spark.streaming.model_stream import stream_update_svd

    N, M_total, mat = low_rank_series
    M0 = 34
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=3)
    base = mat[:, :M0].flatten("F")
    blocks = [mat[:, M0 + i : M0 + i + 2].flatten("F") for i in range(0, 6, 2)]

    state_dir = str(tmp_path / "model_state")
    fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(state_dir)

    src = str(tmp_path / "blocks")
    schema = "group_id string, bucket_idx long, value double"
    start = N * M0

    def add_block(i: int) -> None:
        pdf = tidy(blocks[i], start_idx=start + i * len(blocks[i]))[
            ["group_id", "bucket_idx", "value"]
        ]
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes → deterministic file order

    add_block(0)
    q = stream_update_svd(spark, src, schema, state_dir, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert spark.read.parquet(state_dir).toPandas().iloc[0]["times_updated"] == 1

    # source grows by two files; restart with a LARGER trigger so the first
    # batch mixes the already-folded file with a new one (epochs restart at 0)
    add_block(1)
    add_block(2)
    q2 = stream_update_svd(spark, src, schema, state_dir, max_files_per_trigger=2)
    q2.awaitTermination(120)
    got = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert got["times_updated"] >= 2, "restart dropped the grown-source files"

    # oracle: the three blocks folded sequentially exactly once each
    s = fit_state(spark.createDataFrame(tidy(base)), cfg)
    for i, blk in enumerate(blocks):
        nd = spark.createDataFrame(
            tidy(blk, start_idx=start + i * len(blk))[["group_id", "bucket_idx", "value"]]
        )
        s = update_state(s, nd)
    want = s.toPandas().iloc[0]
    np.testing.assert_allclose(got["last_row"], want["last_row"], atol=0)
    np.testing.assert_allclose(got["sk"], want["sk"], atol=1e-9)

    # a full replay run over the unchanged source is a no-op
    q3 = stream_update_svd(spark, src, schema, state_dir, max_files_per_trigger=3)
    q3.awaitTermination(120)
    again = spark.read.parquet(state_dir).toPandas().iloc[0]
    np.testing.assert_allclose(again["sk"], got["sk"], atol=0)


def test_ingest_chain_stream_to_tierstore_matches_batch(spark, tmp_path):
    """The full wired ingest path (r4): readStream → watermark dedup →
    1-minute tier agg → foreachBatch replace-merge upsert into TierStore.
    The final stored minute tier is bit-equal (cnt, decimal val_sum,
    min/max) to the batch pipeline — dedup + rollup — over the same rows,
    and the touched partition's times_updated lineage recorded."""
    import time as _time

    import pandas as _pd

    from tslib_spark.operators.retention import TierStore
    from tslib_spark.operators.rollup import rollup
    from tslib_spark.streaming.stream import ingest_to_store

    base = _pd.Timestamp("2026-03-02 00:00:00")
    rows = []
    for m in range(0, 30):  # file 1: minutes 0..29
        rows.append(("u1", "en", base + _pd.Timedelta(minutes=m), float(m), f"p{m}"))
        if m % 5 == 0:  # exact duplicate rows → dedup must drop
            rows.append(("u1", "en", base + _pd.Timedelta(minutes=m), float(m), f"p{m}"))
    f1 = _pd.DataFrame(rows, columns=["url", "lang", "warc_ts", "val", "payload"])
    rows2 = [
        ("u2", "de", base + _pd.Timedelta(minutes=60 + m), float(m) * 2, f"q{m}")
        for m in range(0, 30)
    ]
    rows2.append(("u2", "de", base + _pd.Timedelta(minutes=61), 2.0, "q1"))  # dup
    # flush row: advances the watermark past every bucket under comparison
    rows2.append(("flush", "xx", base + _pd.Timedelta(minutes=300), 0.0, "zz"))
    f2 = _pd.DataFrame(rows2, columns=f1.columns)

    src = str(tmp_path / "ingest_src")
    spark.createDataFrame(f1).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(f2).coalesce(1).write.mode("append").parquet(src)

    store = TierStore(spark, str(tmp_path / "store"), ["url", "lang"])
    schema = "url string, lang string, warc_ts timestamp, val double, payload string"
    q = ingest_to_store(
        spark, src, schema, store, "warc_ts", "val",
        content_cols=["url", "payload"], watermark="10 minutes",
        checkpoint_dir=str(tmp_path / "ingest_ckpt"), max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    cutoff = base + _pd.Timedelta(minutes=290)  # watermark: 300 − 10
    got = (
        store.read_tier("minute")
        .filter(F.col("bucket_ts") < F.lit(cutoff))
        .toPandas()
        .sort_values(["url", "bucket_ts"])
        .reset_index(drop=True)
    )
    events = spark.createDataFrame(_pd.concat([f1, f2], ignore_index=True))
    deduped = events.dropDuplicates(["url", "payload"])
    want = (
        rollup(deduped, ["url", "lang"], "warc_ts", "val", "minute")
        .filter(F.col("bucket_ts") < F.lit(cutoff))
        .toPandas()
        .sort_values(["url", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 60
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()
    assert (got["cnt"] == 1).all()  # every duplicate dropped
    assert [str(x) for x in got["val_sum"]] == [str(x) for x in want["val_sum"]]
    assert (got["val_min"].to_numpy() == want["val_min"].to_numpy()).all()
    assert (got["val_max"].to_numpy() == want["val_max"].to_numpy()).all()

    cp = store.checkpoint.read()
    lineage = cp[(cp["tier"] == "minute") & (cp["partition_key"] == "2026-03-02")]
    assert len(lineage) == 1 and int(lineage["times_updated"].iloc[0]) >= 1


def test_ingest_chain_compressed_minute_tier(spark, tmp_path):
    """ingest_to_store against a Gorilla-compressed minute tier: the
    replace-merge upsert flows through the same encode/decode path as
    batch materialization, and the decoded read-back equals the batch
    rollup on the closed buckets."""
    import pandas as _pd

    from tslib_spark.operators.retention import TierStore
    from tslib_spark.operators.rollup import rollup
    from tslib_spark.streaming.stream import ingest_to_store

    base = _pd.Timestamp("2026-03-09 00:00:00")
    rows = [
        ("u1", "en", base + _pd.Timedelta(minutes=m), float(m % 7), f"p{m}")
        for m in range(0, 40)
    ]
    rows.append(("flush", "xx", base + _pd.Timedelta(minutes=300), 0.0, "zz"))
    f1 = _pd.DataFrame(rows, columns=["url", "lang", "warc_ts", "val", "payload"])
    src = str(tmp_path / "csrc")
    spark.createDataFrame(f1).coalesce(1).write.parquet(src)

    store = TierStore(
        spark, str(tmp_path / "cstore"), ["url", "lang"],
        compressed_tiers={"minute"},
    )
    schema = "url string, lang string, warc_ts timestamp, val double, payload string"
    q = ingest_to_store(
        spark, src, schema, store, "warc_ts", "val",
        content_cols=["url", "payload"], watermark="10 minutes",
        checkpoint_dir=str(tmp_path / "cckpt"),
    )
    q.awaitTermination(180)

    cutoff = base + _pd.Timedelta(minutes=290)
    got = (
        store.read_tier("minute")
        .filter(F.col("bucket_ts") < F.lit(cutoff))
        .toPandas().sort_values("bucket_ts").reset_index(drop=True)
    )
    want = (
        rollup(spark.createDataFrame(f1), ["url", "lang"], "warc_ts", "val", "minute")
        .filter(F.col("bucket_ts") < F.lit(cutoff))
        .toPandas().sort_values("bucket_ts").reset_index(drop=True)
    )
    assert len(got) == len(want) == 40
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()
    assert [str(x) for x in got["val_sum"]] == [str(x) for x in want["val_sum"]]
    # the stored bytes really are compressed chunks, not raw state rows
    raw_cols = set(spark.read.parquet(store.tier_path("minute")).columns)
    assert "val_blob" in raw_cols or "blob" in raw_cols or "ts_start" in raw_cols


def test_ingest_chain_full_replay_is_idempotent(spark, tmp_path):
    """At-least-once durability for the streaming tier: reprocessing the
    ENTIRE source (fresh checkpoint → every batch replays) leaves the
    stored minute tier bit-identical — the replace-merge upsert absorbs
    replayed buckets instead of double-counting them, and the partition
    lineage records the extra pass (times_updated increments)."""
    import pandas as _pd

    from tslib_spark.operators.retention import TierStore
    from tslib_spark.streaming.stream import ingest_to_store

    base = _pd.Timestamp("2026-03-16 00:00:00")
    rows = [
        ("u1", "en", base + _pd.Timedelta(minutes=m), float(m), f"p{m}")
        for m in range(0, 30)
    ]
    rows.append(("flush", "xx", base + _pd.Timedelta(minutes=300), 0.0, "zz"))
    f1 = _pd.DataFrame(rows, columns=["url", "lang", "warc_ts", "val", "payload"])
    src = str(tmp_path / "rsrc")
    spark.createDataFrame(f1).coalesce(1).write.parquet(src)

    store = TierStore(spark, str(tmp_path / "rstore"), ["url", "lang"])
    schema = "url string, lang string, warc_ts timestamp, val double, payload string"
    for i, ckpt in enumerate(("ck1", "ck2")):  # second run replays everything
        q = ingest_to_store(
            spark, src, schema, store, "warc_ts", "val",
            content_cols=["url", "payload"], watermark="10 minutes",
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination(180)
        got = (
            store.read_tier("minute")
            .toPandas().sort_values(["url", "bucket_ts"]).reset_index(drop=True)
        )
        if i == 0:
            first = got
        else:
            assert len(got) == len(first)
            assert (got["cnt"].to_numpy() == first["cnt"].to_numpy()).all()
            assert [str(x) for x in got["val_sum"]] == [str(x) for x in first["val_sum"]]
    cp = store.checkpoint.read()
    lin = cp[(cp["tier"] == "minute") & (cp["partition_key"] == "2026-03-16")]
    assert int(lin["times_updated"].iloc[0]) >= 2  # the replay pass is on record


INGEST_SCHEMA = "url string, lang string, warc_ts timestamp, val double, payload string"


def _ingest(spark, src, store, ckpt):
    from tslib_spark.streaming.stream import ingest_to_store

    q = ingest_to_store(
        spark, src, INGEST_SCHEMA, store, "warc_ts", "val",
        content_cols=["url", "payload"], watermark="10 minutes", checkpoint_dir=ckpt,
    )
    q.awaitTermination(180)
    assert q.exception() is None


def test_ingest_upsert_reads_only_touched_partitions(spark, tmp_path, monkeypatch):
    """The merge reads back only the minute partitions the batch touches:
    every read_tier call of the upsert is bounded to the touched day, the
    neighbouring days stay as stored and the touched day keeps its
    earlier buckets next to the new ones."""
    from tslib_spark.operators.downsample import tier_state_checksum
    from tslib_spark.operators.retention import TierStore
    from tslib_spark.operators.rollup import rollup

    base = pd.Timestamp("2026-03-23")  # days base .. base+2 stored
    stored = pd.DataFrame(
        [("u0", "en", base + pd.Timedelta(hours=h), float(h), f"s{h}") for h in range(72)],
        columns=["url", "lang", "warc_ts", "val", "payload"],
    )
    keys = ["url", "lang"]
    store = TierStore(spark, str(tmp_path / "store"), keys, compressed_tiers={"minute"})
    store.materialize(
        "minute", rollup(spark.createDataFrame(stored), keys, "warc_ts", "val", "minute")
    )
    day = base + pd.Timedelta(days=1)
    before = {
        d: tier_state_checksum(store.read_tier("minute", d, d + pd.Timedelta(days=1)), keys)
        for d in (base, day + pd.Timedelta(days=1))
    }

    arrivals = pd.DataFrame(
        [("u1", "en", day + pd.Timedelta(hours=10, minutes=m), float(m), f"a{m}")
         for m in range(30)]
        # flush row, same day: advances the watermark past every u1 bucket
        + [("flush", "xx", day + pd.Timedelta(hours=20), 0.0, "zz")],
        columns=stored.columns,
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(arrivals).coalesce(1).write.parquet(src)

    calls = []
    read_tier = store.read_tier

    def spy(tier, start_ts=None, end_ts=None):
        calls.append((tier, start_ts, end_ts))
        return read_tier(tier, start_ts, end_ts)

    monkeypatch.setattr(store, "read_tier", spy)
    _ingest(spark, src, store, str(tmp_path / "ckpt"))
    monkeypatch.undo()

    assert calls
    assert all(c == ("minute", day, day + pd.Timedelta(days=1)) for c in calls), calls
    for d, chk in before.items():
        assert tier_state_checksum(
            store.read_tier("minute", d, d + pd.Timedelta(days=1)), keys
        ) == chk
    closed = pd.concat([stored, arrivals[arrivals["url"] != "flush"]], ignore_index=True)
    want = rollup(spark.createDataFrame(closed), keys, "warc_ts", "val", "minute")
    got = store.read_tier("minute").filter(F.col("url") != "flush")
    assert tier_state_checksum(got, keys) == tier_state_checksum(want, keys)


def _offsets_conf(ckpt, batch: int) -> dict:
    import json
    import os

    with open(os.path.join(ckpt, "offsets", str(batch))) as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def test_ingest_state_partitions_follow_cores(spark, tmp_path):
    """The stateful operators get min(shuffle partitions, cores) state
    partitions; the session's own value is left as it was, and a restart
    on the checkpoint under another session value keeps the recorded
    count."""
    import os

    from tslib_spark.operators.retention import TierStore

    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    cores = spark.sparkContext.defaultParallelism
    base = pd.Timestamp("2026-03-30")

    def arrivals(tag, start_min):
        return pd.DataFrame(
            [("u1", "en", base + pd.Timedelta(minutes=start_min + m), float(m), f"{tag}{m}")
             for m in range(20)]
            + [("flush", "xx", base + pd.Timedelta(minutes=start_min + 60), 0.0, tag)],
            columns=["url", "lang", "warc_ts", "val", "payload"],
        )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store = TierStore(spark, str(tmp_path / "store"), ["url", "lang"])
    spark.createDataFrame(arrivals("a", 0)).coalesce(1).write.mode("append").parquet(src)
    _ingest(spark, src, store, ckpt)
    recorded = _offsets_conf(ckpt, 0)[key]
    assert int(recorded) <= cores
    assert int(recorded) == min(int(session_value), cores)
    assert spark.conf.get(key) == session_value

    spark.conf.set(key, str(int(recorded) - 1))
    try:
        spark.createDataFrame(arrivals("b", 120)).coalesce(1).write.mode("append").parquet(src)
        _ingest(spark, src, store, ckpt)
    finally:
        spark.conf.set(key, session_value)
    batches = sorted(int(b) for b in os.listdir(os.path.join(ckpt, "offsets")) if b.isdigit())
    assert len(batches) > 1
    assert all(_offsets_conf(ckpt, b)[key] == recorded for b in batches)
    for op in os.listdir(os.path.join(ckpt, "state")):
        parts = [p for p in os.listdir(os.path.join(ckpt, "state", op)) if p.isdigit()]
        assert len(parts) == int(recorded), (op, parts)
    # both batches' closed buckets are stored
    got = store.read_tier("minute").filter(F.col("url") == "u1").count()
    assert got == 40


def test_legacy_epoch_marker_migrates_without_double_fold(spark, tmp_path, low_rank_series):
    """ADVICE r4: a state dir whose _applied_epoch marker was written by a
    pre-file-set build (epoch counter only, no 'files' key) must fall back
    to the legacy epoch guard instead of treating every file as new — and
    the guard must PERSIST across the marker-format migration, because
    files folded by the old build never get file identity."""
    import json
    import os
    import time as _time

    from tslib_spark.streaming.model_stream import stream_update_svd

    N, M_total, mat = low_rank_series
    M0 = 34
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=3)
    base = mat[:, :M0].flatten("F")
    blocks = [mat[:, M0 + i : M0 + i + 2].flatten("F") for i in range(0, 4, 2)]

    state_dir = str(tmp_path / "model_state")
    fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(state_dir)
    src = str(tmp_path / "blocks")
    schema = "group_id string, bucket_idx long, value double"
    start = N * M0

    def add_block(i):
        pdf = tidy(blocks[i], start_idx=start + i * len(blocks[i]))[
            ["group_id", "bucket_idx", "value"]
        ]
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    add_block(0)
    q = stream_update_svd(spark, src, schema, state_dir, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert spark.read.parquet(state_dir).toPandas().iloc[0]["times_updated"] == 1

    # simulate the old build's marker: epoch counter only
    marker_path = os.path.join(state_dir, "_applied_epoch")
    with open(marker_path, "w") as f:
        json.dump({"epoch_id": 0}, f)

    # replay over the UNCHANGED source: legacy guard must skip (no double fold)
    q2 = stream_update_svd(spark, src, schema, state_dir, max_files_per_trigger=1)
    q2.awaitTermination(120)
    s1 = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert s1["times_updated"] == 1, "legacy marker replay double-folded"

    # source grows; restart folds exactly the new file (epoch 1 > legacy 0)
    add_block(1)
    q3 = stream_update_svd(spark, src, schema, state_dir, max_files_per_trigger=1)
    q3.awaitTermination(120)
    s2 = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert s2["times_updated"] == 2

    # the migrated marker carries the file set AND the legacy epoch
    with open(marker_path) as f:
        marker = json.load(f)
    assert marker["legacy_epoch"] == 0 and len(marker["files"]) >= 1

    # full replay after migration: epoch 0 legacy-skipped, epoch 1 file-set-skipped
    q4 = stream_update_svd(spark, src, schema, state_dir, max_files_per_trigger=1)
    q4.awaitTermination(120)
    s3 = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert s3["times_updated"] == 2
    np.testing.assert_allclose(s3["sk"], s2["sk"], atol=0)

    # oracle: blocks folded sequentially exactly once each
    s = fit_state(spark.createDataFrame(tidy(base)), cfg)
    for i, blk in enumerate(blocks):
        nd = spark.createDataFrame(
            tidy(blk, start_idx=start + i * len(blk))[["group_id", "bucket_idx", "value"]]
        )
        s = update_state(s, nd)
    want = s.toPandas().iloc[0]
    np.testing.assert_allclose(s2["sk"], want["sk"], atol=1e-9)


def test_checkpointed_marker_compacts_file_set(spark, tmp_path, low_rank_series, monkeypatch):
    """ADVICE r4: the applied-file set must not grow without bound. With a
    checkpoint_dir (replays limited to the last uncommitted batch) the
    marker keeps a rolling tail; files_seen records the true total."""
    import json
    import os
    import time as _time

    from tslib_spark.streaming import model_stream

    monkeypatch.setattr(model_stream, "_MAX_MARKER_FILES", 2)

    N, M_total, mat = low_rank_series
    M0 = 32
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=3)
    base = mat[:, :M0].flatten("F")
    blocks = [mat[:, M0 + i : M0 + i + 2].flatten("F") for i in range(0, 8, 2)]

    state_dir = str(tmp_path / "model_state")
    fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(state_dir)
    src = str(tmp_path / "blocks")
    schema = "group_id string, bucket_idx long, value double"
    start = N * M0
    for i, blk in enumerate(blocks):
        pdf = tidy(blk, start_idx=start + i * len(blk))[["group_id", "bucket_idx", "value"]]
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    q = model_stream.stream_update_svd(
        spark, src, schema, state_dir,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    got = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert got["times_updated"] == 4
    with open(os.path.join(state_dir, "_applied_epoch")) as f:
        marker = json.load(f)
    assert len(marker["files"]) <= 2, "marker file set not compacted"
    assert marker["files_seen"] == 4


def test_marker_compaction_never_truncates_current_batch(
    spark, tmp_path, low_rank_series, monkeypatch
):
    """ADVICE r5: when a SINGLE batch carries more files than
    _MAX_MARKER_FILES, the rolling tail must still retain that batch's
    whole file set — truncating to the constant would drop files just
    applied, and a replay of that uncommitted batch would double-fold
    the dropped ones."""
    import json
    import os

    from tslib_spark.streaming import model_stream

    monkeypatch.setattr(model_stream, "_MAX_MARKER_FILES", 2)

    N, M_total, mat = low_rank_series
    M0 = 32
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=3)
    base = mat[:, :M0].flatten("F")
    blocks = [mat[:, M0 + i : M0 + i + 2].flatten("F") for i in range(0, 8, 2)]

    state_dir = str(tmp_path / "model_state")
    fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(state_dir)
    src = str(tmp_path / "blocks")
    start = N * M0
    for i, blk in enumerate(blocks):
        pdf = tidy(blk, start_idx=start + i * len(blk))[["group_id", "bucket_idx", "value"]]
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    # one availableNow batch over ALL 4 files (> the patched cap of 2)
    q = model_stream.stream_update_svd(
        spark, src, "group_id string, bucket_idx long, value double", state_dir,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=16,
    )
    q.awaitTermination(180)
    with open(os.path.join(state_dir, "_applied_epoch")) as f:
        marker = json.load(f)
    # the whole 4-file batch survived compaction — nothing applied was lost
    assert len(marker["files"]) == 4
    assert marker["files_seen"] == 4
    # and a restart over the same source folds nothing twice
    q2 = model_stream.stream_update_svd(
        spark, src, "group_id string, bucket_idx long, value double", state_dir,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=16,
    )
    q2.awaitTermination(180)
    got = spark.read.parquet(state_dir).toPandas().iloc[0]
    assert got["times_updated"] == 1
