"""``serve``: one closed-loop client reading and upserting a stored store.

Preparation builds a three-week store (Gorilla-compressed minute tier) of
a fixed corpus with ``materialize_chain`` and keeps it as a snapshot under
``.perfbench_cache/``, keyed by a hash of the code, so later runs in the
same checkout reuse it (building it is the ``pipeline`` workload's job).
Preparation then restores it once and answers a first read, paying the
read path's cold costs. Set-up restores the snapshot and opens the store.
``--seed`` drives the request mix. Each cycle of the mix is:

- ``READS`` one-url, one-day ``read_tier("minute", ...)`` range reads
  (partition and chunk pruning, then decode);
- ``AGGREGATES`` week-long aggregates: the ``hour`` tier downsampled to
  days and the ``day`` tier downsampled to a week;
- one ``ingest_to_store`` ``availableNow`` upsert of a small batch of new
  arrivals into the minute tier.

Every read and aggregate is compared with the same query on a pandas
reference frame built once from the rollup of the generated pages; after
every upsert each bucket that the watermark has closed must read back.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from decimal import Decimal
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from common import KEYS, Ctx, code_hash, dir_bytes, latency_summary
from spans import instrument_store
from tslib_spark.datagen.crawl import generate_pages
from tslib_spark.operators import downsample, rollup_pages
from tslib_spark.operators.retention import TierStore
from tslib_spark.sources.readers import read_pages
from tslib_spark.streaming.stream import ingest_to_store

START = pd.Timestamp("2024-01-01")  # a Monday: weeks and day partitions align
DAYS = 21
EVENTS = 30_000
URLS = 200
CORPUS_SEED = 7  # the stored corpus is fixed; --seed drives the request mix
READS, AGGREGATES = 8, 2
ARRIVAL_SERIES, ARRIVAL_MINUTES = 5, 30  # per upsert batch
WATERMARK = pd.Timedelta(minutes=10)  # ingest_to_store's default
ARRIVALS_SCHEMA = "url string, lang string, warc_ts timestamp, text string, text_len long"
FLUSH_KEY = ("https://flush.example.com/", "xx")  # advances the watermark


def _agg(df: pd.DataFrame, by: list) -> pd.DataFrame:
    """Tier-state re-aggregation in pandas (exact: int, Decimal, min/max)."""
    g = df.groupby(by, sort=True)
    return pd.DataFrame({
        "cnt": g["cnt"].sum(),
        "val_sum": g["val_sum"].agg(lambda s: sum(s, Decimal(0))),
        "val_min": g["val_min"].min(),
        "val_max": g["val_max"].max(),
    }).reset_index()


def _same(got: pd.DataFrame, want: pd.DataFrame, on: list) -> bool:
    if len(got) != len(want):
        return False
    got = got.sort_values(on, ignore_index=True)
    want = want.sort_values(on, ignore_index=True)
    for c in on:
        if not (pd.Series(got[c].to_numpy()) == pd.Series(want[c].to_numpy())).all():
            return False
    return (
        (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()
        and all(Decimal(a) == Decimal(b) for a, b in zip(got["val_sum"], want["val_sum"]))
        and (got["val_min"].to_numpy() == want["val_min"].to_numpy()).all()
        and (got["val_max"].to_numpy() == want["val_max"].to_numpy()).all()
    )


class Serve:
    name = "serve"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng(ctx.seed)
        self.live = str(ctx.work / "live")
        self.arrivals = str(ctx.work / "arrivals")

    # ------------------------------------------------------------ set-up
    def prepare(self) -> None:
        """Load the cached store and reference frame, building them first
        if this checkout has no cache for the current code."""
        key = code_hash([Path(__file__)])[:16]
        cache = self.ctx.cache / f"serve-{key}"
        self.ctx.info["store_cached"] = (cache / "meta.json").exists()
        if not self.ctx.info["store_cached"]:
            self._build(cache)
        meta = json.loads((cache / "meta.json").read_text())
        self.ctx.info["store_build_s"] = meta["build_s"]
        self.store_bytes = meta["store_bytes"]
        self.snapshot = str(cache / "snapshot")
        ref = pd.read_parquet(cache / "reference.parquet")
        ref["day"] = ref["bucket_ts"].dt.floor("D")
        self.ref = ref
        self.ref_by_day = {k: g.drop(columns="day") for k, g in ref.groupby(["url", "lang", "day"])}
        self.targets = sorted(self.ref_by_day)
        heads = ref.groupby(KEYS)["cnt"].sum().sort_values(ascending=False)
        self.arrival_keys = list(heads.index[:ARRIVAL_SERIES])
        # a server's start: the first query pays the read path's cold costs
        self.setup()
        run, check = self._read(self.targets[self.rng.integers(len(self.targets))])
        with self.ctx.checks.op("first_read"):
            check(run())

    def _build(self, cache: Path) -> None:
        """Generate the corpus, store it with ``materialize_chain`` and keep
        the rollup as the pandas reference; publish with one rename."""
        t0 = time.perf_counter()
        tmp = self.ctx.work / "cache-build"
        pages_dir = str(tmp / "pages")
        generate_pages(self.spark, n_events=EVENTS, n_urls=URLS, n_minutes=DAYS * 1440,
                       start_ts=str(START), seed=CORPUS_SEED).write.parquet(pages_dir)
        minute = rollup_pages(read_pages(self.spark, pages_dir)).persist()
        TierStore(self.spark, str(tmp / "snapshot"), KEYS,
                  compressed_tiers={"minute"}).materialize_chain(minute)
        build_s = time.perf_counter() - t0
        minute.toPandas().to_parquet(tmp / "reference.parquet", index=False)
        minute.unpersist()
        shutil.rmtree(pages_dir)
        meta = {"build_s": build_s, "store_bytes": dir_bytes(tmp / "snapshot")}
        (tmp / "meta.json").write_text(json.dumps(meta))
        cache.parent.mkdir(parents=True, exist_ok=True)
        for stale in cache.parent.glob("serve-*"):  # stores of other code versions
            shutil.rmtree(stale, ignore_errors=True)
        try:
            os.rename(tmp, cache)
        except OSError:  # another run published it first
            shutil.rmtree(tmp, ignore_errors=True)

    def setup(self) -> None:
        """Restore the snapshot and open the store."""
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.rmtree(self.arrivals, ignore_errors=True)
        shutil.copytree(self.snapshot, self.live)
        self.store = TierStore(self.spark, self.live, KEYS, compressed_tiers={"minute"})
        instrument_store(self.ctx.tracer, self.store)
        self.batches = 0
        self.arrived = pd.DataFrame(columns=["url", "lang", "warc_ts", "text", "text_len"])

    def inputs(self) -> dict:
        return {
            "events": EVENTS, "urls": URLS, "days": DAYS, "minute_points": len(self.ref),
            "store_bytes": self.store_bytes,
            "cycle": {"reads": READS, "aggregates": AGGREGATES, "upserts": 1},
            "arrival_rows_per_upsert": ARRIVAL_SERIES * ARRIVAL_MINUTES // 2 + 1,
        }

    # ------------------------------------------------------------ the mix
    def cycle(self):
        for _ in range(READS):
            yield "read", *self._read(self.targets[self.rng.integers(len(self.targets))])
        for i in range(AGGREGATES):
            yield "aggregate", *self._aggregate(("hour", "day") if i % 2 == 0 else ("day", "week"),
                                                START + pd.Timedelta(weeks=int(self.rng.integers(3))))
        new_bytes = self._write_arrivals()
        yield "upsert", *self._upsert(new_bytes)

    def _read(self, target):
        url, lang, day = target

        def run():
            with self.ctx.tracer.span("sources.read_tier.minute", "sources") as c:
                got = (
                    self.store.read_tier("minute", day, day + pd.Timedelta(days=1))
                    .filter((F.col("url") == url) & (F.col("lang") == lang))
                    .toPandas()
                )
                c["rows_returned"] = len(got)
            return got

        def check(got):
            self.ctx.checks.check("serve.read", _same(got, self.ref_by_day[target], ["bucket_ts"]),
                                  f"{url} {lang} {day.date()}")

        return run, check

    def _aggregate(self, tiers, week):
        src, dst = tiers

        def run():
            with self.ctx.tracer.span(f"downsample.{dst}", "operators.downsample") as c:
                got = downsample(
                    self.store.read_tier(src, week, week + pd.Timedelta(weeks=1)), dst, KEYS
                ).toPandas()
                c["rows_out"] = c["rows_returned"] = len(got)
            return got

        def check(got):
            sel = self.ref[(self.ref["day"] >= week) & (self.ref["day"] < week + pd.Timedelta(weeks=1))]
            bucket = sel["bucket_ts"].dt.floor("D") if dst == "day" else pd.Series(week, index=sel.index)
            want = _agg(sel.assign(bucket_ts=bucket), [*KEYS, "bucket_ts"])
            self.ctx.checks.check(f"serve.aggregate.{src}", _same(got, want, [*KEYS, "bucket_ts"]),
                                  f"week of {week.date()}")

        return run, check

    def _write_arrivals(self) -> int:
        """Write the next batch of arrivals: new buckets one day past the
        store's end, each batch an hour after the last; returns its bytes."""
        b = self.batches
        self.batches += 1
        base = START + pd.Timedelta(days=DAYS, hours=b)
        minutes = sorted(self.rng.choice(ARRIVAL_MINUTES, ARRIVAL_MINUTES // 2, replace=False))
        rows = []
        for j, (url, lang) in enumerate(self.arrival_keys):
            for m in minutes:
                ts = base + pd.Timedelta(minutes=int(m), seconds=int(self.rng.integers(60)))
                rows.append((url, lang, ts, f"arrival {b} {j} {m} " * (1 + j), 0))
        rows.append((*FLUSH_KEY, base + pd.Timedelta(minutes=45), f"flush {b}", 0))
        pdf = pd.DataFrame(rows, columns=self.arrived.columns)
        pdf["text_len"] = pdf["text"].str.len()
        self.batch_rows = len(pdf)
        before = dir_bytes(self.arrivals) if os.path.exists(self.arrivals) else 0
        self.spark.createDataFrame(pdf, schema=ARRIVALS_SCHEMA).coalesce(1).write.mode(
            "append").parquet(self.arrivals)
        self.arrived = pd.concat([self.arrived, pdf], ignore_index=True)
        return dir_bytes(self.arrivals) - before

    def _upsert(self, new_bytes: int):
        def run():
            with self.ctx.tracer.span("streaming.ingest_to_store", "streaming",
                                      rows_in=self.batch_rows, new_bytes=new_bytes):
                q = ingest_to_store(
                    self.spark, self.arrivals, ARRIVALS_SCHEMA, self.store, "warc_ts", "text_len",
                    content_cols=["url", "lang", "text"],
                    checkpoint_dir=os.path.join(self.live, "_ingest_checkpoint"),
                )
                if not q.awaitTermination(120):
                    q.stop()
                    raise TimeoutError("ingest_to_store did not finish in 120 s")
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
            return None

        def check(_):
            a = self.arrived.assign(bucket_ts=self.arrived["warc_ts"].dt.floor("min"))
            closed = a["bucket_ts"] + pd.Timedelta(minutes=1) <= a["warc_ts"].max() - WATERMARK
            want = _agg(
                a[closed].assign(cnt=1, val_sum=a["text_len"].map(Decimal),
                                 val_min=a["text_len"].astype(float), val_max=a["text_len"].astype(float)),
                [*KEYS, "bucket_ts"],
            )
            day = START + pd.Timedelta(days=DAYS)
            got = self.store.read_tier("minute", day, day + pd.Timedelta(days=1)).toPandas()
            got = got[got["bucket_ts"].isin(set(want["bucket_ts"]))]
            self.ctx.checks.check("serve.upsert_readback", _same(got, want, [*KEYS, "bucket_ts"]),
                                  f"batch {self.batches}")

        return run, check

    # ------------------------------------------------------------ reports
    def named(self, lat: dict) -> dict:
        out = {}
        for kind, name in (("read", "read"), ("upsert", "upsert"), ("aggregate", "aggregate")):
            s = latency_summary(lat.get(kind, []))
            out[f"{name}_p50_ms"] = (s.get("p50_ms", float("nan")), "ms")
            if "p90_ms" in s:
                out[f"{name}_p90_ms"] = (s["p90_ms"], "ms")
            out[f"{name}_samples"] = (s["n"], "count")
        return out

    def probes(self) -> None:
        from pipeline import codec_probe

        codec_probe(self.ctx, self.store, self.store.read_tier("minute"))
