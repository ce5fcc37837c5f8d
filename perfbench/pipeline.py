"""``pipeline``: the north-star batch job, one full pass per operation.

Seeded Zipf crawl pages -> ``read_pages`` -> ``rollup_pages`` -> a fresh
``TierStore`` with a Gorilla-compressed minute tier -> ``materialize_chain``
-> ``verify_tier_parity("minute", "hour")`` -> ``densify_grid`` + HSVT
``fit_transform`` over the top-K hourly series read back from the stored
hour tier -> ``retention_pass`` on the minute tier.
"""

from __future__ import annotations

import shutil

import pandas as pd
from pyspark.sql import functions as F

from common import KEYS, Ctx, dir_bytes, median
from spans import instrument_store
from tslib_spark.codec.statechunks import decode_state_chunks, encode_state_chunks
from tslib_spark.datagen.crawl import generate_pages
from tslib_spark.kernels.svd_kernel import ModelConfig, fit_transform
from tslib_spark.operators import densify_grid, downsample, rollup_pages, tier_chain
from tslib_spark.operators.downsample import tier_state_checksum
from tslib_spark.operators.retention import TierStore
from tslib_spark.sources.readers import read_pages

START = "2024-01-01 00:00:00"
DAYS = 4
EVENTS = 20_000
URLS = 200
RETAIN_DAYS = 2  # minute partitions kept by the retention pass
TOP_K = 8  # hourly series imputed by HSVT
MATRIX_ROWS = 8  # page-matrix rows N; columns M = hours / N


class Pipeline:
    name = "pipeline"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.pages_dir = str(ctx.work / "pages")
        self.cutoff = (pd.Timestamp(START) + pd.Timedelta(days=DAYS - RETAIN_DAYS))
        self.hours = DAYS * 24
        self.passes = 0
        self.last_store = None

    # ------------------------------------------------------------ set-up
    def prepare(self) -> None:
        """Write the pages once and compute the checks' reference, so the
        measured window holds only operations (``setup`` rewrites the same
        pages from the same seed)."""
        self.setup()
        self._reference()

    def setup(self) -> None:
        shutil.rmtree(self.pages_dir, ignore_errors=True)
        generate_pages(
            self.spark, n_events=EVENTS, n_urls=URLS, n_minutes=DAYS * 1440,
            start_ts=START, seed=self.ctx.seed,
        ).write.parquet(self.pages_dir)

    def _reference(self) -> None:
        """Checksums of the in-memory tier chain, the stored tiers' oracle."""
        minute = rollup_pages(read_pages(self.spark, self.pages_dir)).persist()
        chain = tier_chain(minute, KEYS)
        self.ref = {t: tier_state_checksum(df, KEYS) for t, df in chain.items() if t != "minute"}
        kept = minute.filter(F.col("bucket_ts") >= F.lit(self.cutoff))
        self.ref["minute"] = tier_state_checksum(kept, KEYS)
        self.points = minute.count()
        minute.unpersist()

    def inputs(self) -> dict:
        return {
            "events": EVENTS, "urls": URLS, "days": DAYS,
            "minute_points": self.points, "top_k_series": TOP_K,
            "retain_days": RETAIN_DAYS,
        }

    # ------------------------------------------------------------ the pass
    def cycle(self):
        yield "pass", self._pass, self._check

    def _pass(self) -> dict:
        tr, spark = self.ctx.tracer, self.spark
        self.passes += 1
        store_dir = str(self.ctx.work / f"store-{self.passes}")
        with tr.span("pipeline.pass", "workload"):
            with tr.span("sources.read_pages", "sources"):
                pages = read_pages(spark, self.pages_dir)
            with tr.span("rollup.rollup_pages", "operators.rollup") as c:
                minute = rollup_pages(pages).persist()
                c["rows_out"] = minute.count()
            store = TierStore(spark, store_dir, KEYS, compressed_tiers={"minute"})
            instrument_store(tr, store)
            with tr.span("retention.materialize_chain", "operators.retention"):
                written = store.materialize_chain(minute)
            with tr.span("retention.verify_tier_parity", "operators.retention"):
                parity = store.verify_tier_parity("minute", "hour")
            with tr.span("gapfill.densify_grid", "operators.gapfill") as c:
                grid, groups = self._hourly_grid(store)
                grid = grid.persist()
                c["rows_out"] = grid.count()
                c["filled"] = grid.filter(F.col("value").isNull()).count()
                c["rows_returned"] = c["rows_out"] - c["filled"]
            with tr.span("kernels.fit_transform", "kernels", groups=len(groups)):
                cfg = ModelConfig(
                    target_key="s", N=MATRIX_ROWS, M=self.hours // MATRIX_ROWS, k=3
                )
                imputed = fit_transform(grid, cfg).filter(F.col("kind") == "imputed").count()
            with tr.span("retention.retention_pass", "operators.retention") as c:
                expired = store.retention_pass("minute", self.cutoff.strftime("%Y-%m-%d"))
                c["partitions_expired"] = len(expired)
        minute.unpersist()
        grid.unpersist()
        return {"store": store, "written": written, "parity": parity,
                "groups": groups, "imputed": imputed, "expired": expired}

    def _hourly_grid(self, store: TierStore):
        """Top-K (url, lang) hourly series that span the whole window,
        densified to the full hour grid; one HSVT group per series."""
        hour = store.read_tier("hour")
        lo = F.lit(pd.Timestamp(START))
        hi = F.lit(pd.Timestamp(START) + pd.Timedelta(hours=self.hours - 1))
        top = (
            hour.groupBy(*KEYS)
            .agg(F.sum("cnt").alias("n"), F.min("bucket_ts").alias("lo"),
                 F.max("bucket_ts").alias("hi"))
            .filter((F.col("lo") == lo) & (F.col("hi") == hi))
            .orderBy(F.desc("n"), *KEYS)
            .limit(TOP_K)
            .collect()
        )
        groups = [f"{r['url']}|{r['lang']}" for r in top]
        series = hour.select(
            F.concat_ws("|", *KEYS).alias("group_id"), "bucket_ts",
            F.col("cnt").cast("double").alias("value"),
        ).filter(F.col("group_id").isin(groups))
        dense = densify_grid(series, ["group_id"], step="1 hour", value_cols=["value"])
        hours_since = (F.unix_timestamp("bucket_ts") - F.unix_timestamp(lo)) / 3600
        return dense.select(
            "group_id", F.lit("s").alias("series_key"),
            hours_since.cast("long").alias("bucket_idx"), "value",
        ), groups

    def _check(self, r: dict) -> None:
        chk, store = self.ctx.checks, r["store"]
        chk.check("pipeline.parity", r["parity"] is True)
        chk.check("pipeline.minute_partitions", len(r["written"]["minute"]) == DAYS,
                  f"{len(r['written']['minute'])} != {DAYS}")
        for tier, want in self.ref.items():
            got = tier_state_checksum(store.read_tier(tier), KEYS)
            chk.check(f"pipeline.checksum.{tier}", got == want, f"{got} != {want}")
        want_rows = len(r["groups"]) * self.hours
        chk.check("pipeline.imputed_rows", r["groups"] and r["imputed"] == want_rows,
                  f"{r['imputed']} != {want_rows}")
        chk.check("pipeline.expired", len(r["expired"]) == DAYS - RETAIN_DAYS)
        if self.last_store is not None:
            shutil.rmtree(self.last_store.root, ignore_errors=True)
        self.last_store = store

    # ------------------------------------------------------------ reports
    def named(self, lat: dict) -> dict:
        store = self.last_store
        if store is None:  # no pass completed
            return {}
        chunks = self.spark.read.parquet(store.tier_path("minute"))
        stored_points = chunks.agg(F.sum("n_points")).collect()[0][0] or 0
        pass_s = median(lat["pass"]) if lat.get("pass") else float("nan")
        return {
            "pipeline_s": (pass_s, "s"),
            "rolled_points_per_s": (self.points / pass_s, "1/s"),
            "storage_bytes_per_point": (
                dir_bytes(store.tier_path("minute")) / max(stored_points, 1), "B"
            ),
        }

    def probes(self) -> None:
        """Layer-isolation calls for the traced run: each downsample step
        and the state-chunk codec, forced with a ``noop`` write."""
        tr, store = self.ctx.tracer, self.last_store
        prev = rollup_pages(read_pages(self.spark, self.pages_dir)).persist()
        prev.count()
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        for tier in ("hour", "day", "week"):
            df = downsample(prev, tier, KEYS).persist()
            with tr.span(f"downsample.{tier}", "operators.downsample") as c:
                noop(df)
            c["rows_out"] = df.count()
            prev = df
        codec_probe(self.ctx, store, rollup_pages(read_pages(self.spark, self.pages_dir)))


def codec_probe(ctx: Ctx, store: TierStore, minute_state) -> None:
    """Direct ``encode_state_chunks`` / ``decode_state_chunks`` calls on a
    minute tier: the codec's own cost, apart from storage."""
    tr = ctx.tracer
    state = minute_state.persist()
    n_points = state.count()
    enc = encode_state_chunks(state, KEYS).persist()
    with tr.span("codec.encode", "codec", points_encoded=n_points) as c:
        c["chunks"] = enc.count()
    blobs = ("ts_blob", "cnt_blob", "sum_blob", "min_blob", "max_blob")
    c["bytes_out"] = enc.agg(F.sum(sum(F.length(b) for b in blobs))).collect()[0][0]
    stored = store.backend.read(ctx.spark, "minute").drop("part_key").persist()
    stored.count()
    with tr.span("codec.decode", "codec") as c:
        c["points_decoded"] = decode_state_chunks(stored, KEYS).count()
    for df in (state, enc, stored):
        df.unpersist()
