"""The four workloads. Each builds its inputs from the seed in ``setup``,
runs one op per ``op(i)`` call through the program's public functions
only, and checks an op's output in ``check`` (outside the timed section).

An op returns an :class:`Op`; ``check`` returns None when the output is
correct, else the reason it is not.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen


@dataclass
class Op:
    rows: int            # input rows the op consumed (or returned, for reads)
    in_bytes: int        # input bytes behind ``rows``
    out: object = None   # what ``check`` inspects
    kinds: dict = field(default_factory=dict)  # ms per widget of a page load


def _dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of data files under ``path`` (Spark/pyarrow skip
    names starting with '_' or '.', so do we)."""
    files = size = 0
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _read(path: str) -> pa.Table:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def _agg(keys: np.ndarray, values: np.ndarray):
    """(unique keys, count, sum) of ``values`` grouped by int64 ``keys``."""
    uk, inv = np.unique(keys, return_inverse=True)
    return uk, np.bincount(inv), np.bincount(inv, weights=values)


def _write_pages(table: pa.Table, path: str, files: int):
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(np.int64)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _gorilla_1m(store):
    """The 1m tier as Gorilla blocks per (url, day) — rollup_job.py
    --compress-1m's transformation."""
    from pyspark.sql import functions as F

    from ezmsg_sigproc_spark.operators.compression import gorilla_compress
    from ezmsg_sigproc_spark.plans.rollup_tiers import finalize

    points = finalize(store.read_tier("1m").drop("ts_bucket"), 60).select(
        "url", F.col("bin_ts").alias("ts"), F.col("mean").alias("value"))
    return gorilla_compress(
        points.withColumn("bucket", F.floor(F.col("ts") / 86400).cast("bigint")),
        key_cols=["url", "bucket"], ts_col="ts", value_col="value",
        verify="full", emit_blobs=True)


def _check_blobs(blobs: pa.Table, n_points: int) -> str | None:
    if blobs.num_rows == 0:
        return "no Gorilla blocks"
    pts = int(np.sum(blobs["n_points"].to_numpy()))
    if pts != n_points:
        return f"Gorilla points {pts} != 1m rows {n_points}"
    if not all(blobs["roundtrip_ok"].to_pylist()):
        return "roundtrip_ok false"
    if not np.array_equal(blobs["verified_points"].to_numpy(), blobs["n_points"].to_numpy()):
        return "verify='full' left points unverified"
    return None


def _bytes_per_point(blobs: pa.Table) -> float:
    b = np.sum(blobs["ts_bytes"].to_numpy()) + np.sum(blobs["val_bytes"].to_numpy())
    return float(b) / float(np.sum(blobs["n_points"].to_numpy()))


class Workload:
    name = ""

    def __init__(self, spark, root: str, seed: int, tracer, scale: float = 1.0):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tr = tracer
        self.scale = scale
        self.hashes: dict[str, str] = {}
        os.makedirs(root, exist_ok=True)

    def rebind(self, spark, tracer):
        """Continue on a new SparkSession (the traced run restarts the
        context with the event log on; inputs on disk are kept)."""
        self.spark = spark
        self.tr = tracer

    def setup(self):
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def check(self, op: Op) -> str | None:
        raise NotImplementedError

    def bytes_per_point(self, op: Op) -> float:
        raise NotImplementedError

    def warmup(self, first_op: int) -> int:
        """Run an unrecorded op so caches and lazy set-up are warm; returns
        the next op index."""
        self.release(self.op(first_op))
        return first_op + 1

    def release(self, op: Op):
        """Drop an op's on-disk output once it has been checked."""

    def layer_counts(self, op: Op) -> dict:
        """Per-layer counters read from the op's own outputs."""
        return {}


# -- dashboard -----------------------------------------------------------------

KINDS = ("read_1m", "read_2h", "read_1d", "decode", "smooth", "thumbs")  # page widgets
MEDIA_FORMATS = ("jpeg", "gif", "png", "bmp", "wav")
EWMA_ALPHA = 0.2
PANEL = 50


class Dashboard(Workload):
    """Setup backfills a 7-day crawl into a RollupStore (the write path:
    tiered rollup, bucket writer, lineage commit, Gorilla 1m blocks per
    (url, day)). Each op is one page load for a seeded 50-url panel: six
    widgets queried one after another — a 4-hour 1m read, a day at 2h
    (re-aggregated 1h partials), the whole span at 1d, a Gorilla decode of
    one day's blocks, the 4-hour 1m read smoothed by EWMA, and the panel's
    media thumbnails (JPEG-4:2:0 with DRI, GIF, PNG, BMP and WAV decode)."""

    name = "dashboard"

    def setup(self):
        from ezmsg_sigproc_spark.plans.rollup_tiers import RollupStore, run_tiered_rollup

        c = gen.crawl(self.seed, n_urls=int(160 * self.scale), days=7,
                      min_interval=300.0, max_interval=3600.0,
                      rows=int(140_000 * self.scale))
        self.crawl = c
        self.hashes["pages"] = gen.table_hash(c.pages)
        self.pages_path = os.path.join(self.root, "pages")
        _write_pages(c.pages, self.pages_path, files=4)
        self.store = RollupStore(self.spark, os.path.join(self.root, "store"))
        self.prebuild_metrics = run_tiered_rollup(
            self.spark, self.spark.read.parquet(self.pages_path), store=self.store)
        self.blob_path = os.path.join(self.root, "blobs")
        _gorilla_1m(self.store).write.mode("overwrite").partitionBy(
            "bucket").parquet(self.blob_path)
        self.build_oracle(c)
        err = self.check_store(self.store.root, self.blob_path, self.prebuild_metrics)
        if err:
            raise RuntimeError(f"store prebuild is wrong: {err}")
        self.store_bpp = _bytes_per_point(_read(self.blob_path))
        # stored bytes per partition, so an op's input size costs no I/O
        self.part_bytes = {}
        for tier_dir in ("tier=1m", "tier=1h", "tier=1d"):
            for d in os.listdir(os.path.join(self.store.root, tier_dir)):
                self.part_bytes[(tier_dir, d)] = _dir_bytes(
                    os.path.join(self.store.root, tier_dir, d))[1]
        for d in os.listdir(self.blob_path):
            if d.startswith("bucket="):
                self.part_bytes[("blobs", d)] = _dir_bytes(os.path.join(self.blob_path, d))[1]
        self._setup_media()

    def build_oracle(self, c: gen.Crawl):
        """Direct aggregates of the pages: per tier (rows, n, sum), and the
        per-(url, minute) count and sum every read is checked against."""
        self.crawl = c
        self.expect = {}
        for tier, sec in (("1m", 60), ("1h", 3600), ("1d", 86400)):
            key = c.url_idx.astype(np.int64) * 10**9 + c.ts // sec
            uk, n, s = _agg(key, c.value)
            self.expect[tier] = (len(uk), int(n.sum()), float(s.sum()))
        key = c.url_idx.astype(np.int64) * 10**9 + c.ts // 60
        uk, n, s = _agg(key, c.value)
        self.m_url = (uk // 10**9).astype(np.int64)
        self.m_bin = uk % 10**9
        self.m_n, self.m_sum = n, s
        self.url_id = {u: i for i, u in enumerate(c.urls)}
        self.by_crawls = np.argsort(-np.bincount(c.url_idx, minlength=len(c.urls)),
                                    kind="stable")

    def _setup_media(self):
        from ezmsg_sigproc_spark.operators import gif_native, jpeg_native

        t0 = time.time()
        loaded = jpeg_native.lib() is not None and gif_native.lib() is not None
        self.setup_info = {"native_build_ms": (time.time() - t0) * 1e3,
                           "native_kernels_loaded": loaded}
        m = gen.media_mix(self.seed, per_kind=max(2, int(8 * self.scale)))
        self.media = m
        self.hashes["media"] = gen.table_hash(m.table)
        self.media_paths = {}
        fmts = np.array(m.table["fmt"].to_pylist())
        for fmt in MEDIA_FORMATS:
            p = os.path.join(self.root, f"media-{fmt}")
            os.makedirs(p)
            pq.write_table(m.table.take(pa.array(np.flatnonzero(fmts == fmt))),
                           os.path.join(p, "part-0.parquet"))
            self.media_paths[fmt] = p
        self.fmt_bytes = {f: int(pc.sum(pc.binary_length(
            m.table.filter(pc.equal(m.table["fmt"], f))["payload"])).as_py())
            for f in MEDIA_FORMATS}

    # -- the write path (setup; traced once in the traced run) ---------------
    def check_store(self, store_root: str, blob_path: str, m: dict) -> str | None:
        """Tier row counts, n and sum are conserved against the direct
        aggregate of the pages; every Gorilla block decodes back."""
        for tier, (rows, n, s) in self.expect.items():
            if m.get(f"rows_{tier}") != rows:
                return f"rows_{tier} {m.get(f'rows_{tier}')} != {rows}"
            t = _read(os.path.join(store_root, f"tier={tier}"))
            got = (t.num_rows, int(np.sum(t["n"].to_numpy())),
                   float(np.sum(t["sum"].to_numpy())))
            if got != (rows, n, s):
                return f"tier {tier} (rows, n, sum) {got} != {(rows, n, s)}"
        return _check_blobs(_read(blob_path), self.expect["1m"][0])

    def traced_backfill(self) -> Op:
        """run_tiered_rollup's steps through the same public functions, one
        span per layer and each output materialized inside its span, into a
        fresh store; then the Gorilla 1m blocks."""
        from ezmsg_sigproc_spark.plans.rollup_tiers import (
            RollupStore, pages_signal, rollup_base, rollup_next)

        tr = self.tr
        store = RollupStore(self.spark, os.path.join(self.root, "store-traced"))
        blob_path = os.path.join(self.root, "blobs-traced")
        pages = self.spark.read.parquet(self.pages_path)
        with tr.span("rollup_tiers.rollup_base"):
            r1m = rollup_base(pages_signal(pages), 60).cache()
            rows_1m = r1m.count()
        with tr.span("rollup_tiers.rollup_next"):
            r1h = rollup_next(r1m, 60).cache()
            rows_1h = r1h.count()
            r1d = rollup_next(r1h, 24).cache()
            rows_1d = r1d.count()
        m = {"rows_1m": rows_1m, "rows_1h": rows_1h, "rows_1d": rows_1d}
        for tier, df in (("1m", r1m), ("1h", r1h), ("1d", r1d)):
            with tr.span(f"rollup_tiers.write_tier_{tier}"):
                m[f"write_{tier}"] = store.write_tier(tier, df)
        for df in (r1m, r1h, r1d):
            df.unpersist()
        with tr.span("compression.gorilla_compress"):
            _gorilla_1m(store).write.mode("overwrite").partitionBy(
                "bucket").parquet(blob_path)
        return Op(self.crawl.pages.num_rows, 0, out=(store.root, blob_path, m))

    def backfill_layers(self, op: Op) -> dict:
        store_root, blob_path, m = op.out
        out = {f"rollup_tiers.rows_{t}": m[f"rows_{t}"] for t in ("1m", "1h", "1d")}
        files = size = buckets = 0
        for tier in ("1m", "1h", "1d"):
            w = m[f"write_{tier}"]
            buckets += w["buckets_written"]
            out[f"rollup_tiers.write_{tier}_ms"] = w["phase_sec"].get("write", 0) * 1e3
            out[f"rollup_tiers.commit_{tier}_ms"] = w["phase_sec"].get("commit", 0) * 1e3
            f, b = _dir_bytes(os.path.join(store_root, f"tier={tier}"))
            files += f
            size += b
        out["rollup_tiers.buckets_written"] = buckets
        out["rollup_tiers.files_written"] = files
        out["rollup_tiers.bytes_written"] = size
        out["rollup_tiers.lineage_files"] = _dir_bytes(os.path.join(store_root, "_lineage"))[0]
        blobs = _read(blob_path)
        out["compression.points"] = int(np.sum(blobs["n_points"].to_numpy()))
        out["compression.verified_points"] = int(np.sum(blobs["verified_points"].to_numpy()))
        return out

    def rebind(self, spark, tracer):
        from ezmsg_sigproc_spark.plans.rollup_tiers import RollupStore

        super().rebind(spark, tracer)
        self.store = RollupStore(spark, self.store.root)

    # -- the read path (ops) ---------------------------------------------------
    def _queries(self, i: int) -> list[dict]:
        """Page load ``i``: one seeded 50-url panel, one query per widget.
        The panel takes one url from each of 50 strata of urls ranked by
        crawl count, so every panel mixes hot and cold urls alike and
        returns about as many rows."""
        rng = np.random.default_rng([self.seed, i, 17])
        c = self.crawl
        strata = np.array_split(self.by_crawls, min(PANEL, len(c.urls)))
        panel = np.sort([rng.choice(s) for s in strata])
        day0 = c.start // 86400
        hour = c.start + 3600 * int(rng.integers(0, 24 * c.days - 4))
        day = day0 + int(rng.integers(0, c.days))
        qs = [dict(kind="read_1m", bin=60, t0=hour, t1=hour + 4 * 3600),
              dict(kind="read_2h", bin=7200, t0=86400 * day, t1=86400 * (day + 1)),
              dict(kind="read_1d", bin=86400, t0=c.start, t1=c.start + 86400 * c.days),
              dict(kind="decode", bucket=day),
              dict(kind="smooth", bin=60, t0=hour, t1=hour + 4 * 3600),
              dict(kind="thumbs")]
        for q in qs:
            q["panel"] = panel
        return qs

    def op(self, i: int) -> Op:
        results, kinds, rows, nbytes = [], {}, 0, 0
        for q in self._queries(i):
            t0 = time.time()
            if q["kind"] == "thumbs":
                out = self._thumbs()
            elif q["kind"] == "decode":
                out = self._decode(q)
            else:
                out = self._read(q)
            kinds[q["kind"]] = (time.time() - t0) * 1e3
            if q["kind"] == "thumbs":
                rows += len(self.media.means)
                nbytes += sum(self.fmt_bytes.values())
            else:
                rows += len(out)
                nbytes += self._covered_bytes(q)
            results.append((q, out))
        return Op(rows, nbytes, out=results, kinds=kinds)

    def _decode(self, q: dict):
        from pyspark.sql import functions as F

        from ezmsg_sigproc_spark.operators.compression import gorilla_decode

        urls = [self.crawl.urls[j] for j in q["panel"]]
        with self.tr.span("compression.gorilla_decode"):
            blobs = self.spark.read.parquet(self.blob_path).filter(
                (F.col("bucket") == q["bucket"]) & F.col("url").isin(urls))
            return gorilla_decode(blobs, key_cols=["url"], ts_col="ts",
                                  value_col="value").toPandas()

    def _read(self, q: dict):
        from pyspark.sql import functions as F

        from ezmsg_sigproc_spark.plans.rollup_tiers import read_resolution

        urls = [self.crawl.urls[j] for j in q["panel"]]
        tr = self.tr
        with tr.span("rollup_tiers.read_tier"):  # DataFrame build: listing
            df = read_resolution(self.store, q["bin"], q["t0"], q["t1"]).filter(
                F.col("url").isin(urls))
        if q["kind"] != "smooth":
            with tr.span("rollup_tiers.read_exec"):
                return df.toPandas()
        from ezmsg_sigproc_spark.operators.ewma import ewma

        if tr.enabled:  # materialize the read inside its own span
            with tr.span("rollup_tiers.read_exec"):
                df = df.cache()
                df.count()
        with tr.span("ewma.ewma"):
            out = ewma(df.select("url", "bin_m", "bin_ts", "n", "sum", "mean"),
                       alpha=EWMA_ALPHA, key_cols=["url"], ts_col="bin_ts",
                       value_col="mean", out_col="ewma").toPandas()
        if tr.enabled:
            df.unpersist()
        return out

    def _thumbs(self):
        from ezmsg_sigproc_spark.operators.multimodal import (
            decode_audio_features, decode_image_features)

        frame = lambda fmts: self.spark.read.parquet(*[self.media_paths[f] for f in fmts])  # noqa: E731
        tr = self.tr
        if tr.enabled:  # one span per format, so each gets its own MB/s
            import pandas as pd

            parts = []
            for fmt in MEDIA_FORMATS[:-1]:
                with tr.span(f"multimodal.decode_{fmt}"):
                    parts.append(decode_image_features(frame([fmt])).toPandas())
            img = pd.concat(parts, ignore_index=True)
        else:
            img = decode_image_features(frame(MEDIA_FORMATS[:-1])).toPandas()
        with tr.span("multimodal.decode_wav"):
            wav = decode_audio_features(frame(["wav"])).toPandas()
        return img, wav

    def _covered_bytes(self, q: dict) -> int:
        """Bytes of the stored partitions the query's time range covers."""
        if q["kind"] == "decode":
            return self.part_bytes.get(("blobs", f"bucket={q['bucket']}"), 0)
        tier, per = {60: ("1m", 3600), 7200: ("1h", 86400), 86400: ("1d", 86400)}[q["bin"]]
        return sum(self.part_bytes.get((f"tier={tier}", f"ts_bucket={b}"), 0)
                   for b in range(q["t0"] // per, -(-q["t1"] // per)))

    # -- checks ----------------------------------------------------------------
    def _expected(self, q: dict, b: int, t0: int, t1: int):
        """Direct aggregate over the pages: (url_idx, bin) → (count, sum) on
        the ``b``-second grid for the panel urls in [t0, t1)."""
        sel = np.isin(self.m_url, q["panel"]) & (self.m_bin * 60 >= t0) & (self.m_bin * 60 < t1)
        key = self.m_url[sel] * 10**9 + (self.m_bin[sel] * 60) // b
        uk, inv = np.unique(key, return_inverse=True)
        return uk, np.bincount(inv, weights=self.m_n[sel]), np.bincount(inv, weights=self.m_sum[sel])

    def check(self, op: Op) -> str | None:
        for q, out in op.out:
            err = self._check_one(q, out)
            if err:
                return err
        return None

    def _check_one(self, q: dict, out) -> str | None:
        if q["kind"] == "thumbs":
            return self._check_thumbs(*out)
        if len(out) == 0:
            return "empty result"
        uid = np.array([self.url_id[u] for u in out["url"]], dtype=np.int64)
        if q["kind"] == "decode":
            t0 = 86400 * q["bucket"]
            uk, n, s = self._expected(q, 60, t0, t0 + 86400)
            key = uid * 10**9 + (out["ts"].to_numpy() // 60).astype(np.int64)
            order = np.argsort(key)
            if not np.array_equal(key[order], uk):
                return "decoded (url, ts) points differ from the 1m tier"
            if not np.array_equal(out["value"].to_numpy()[order], s / n):
                return "decoded values differ from the 1m tier means"
            return None
        uk, n, s = self._expected(q, q["bin"], q["t0"], q["t1"])
        key = uid * 10**9 + out["bin_m"].to_numpy().astype(np.int64)
        order = np.argsort(key)
        if not np.array_equal(key[order], uk):
            return f"{q['kind']}: result bins differ from the direct aggregate"
        if not (np.array_equal(out["n"].to_numpy()[order], n)
                and np.array_equal(out["sum"].to_numpy()[order], s)):
            return f"{q['kind']}: count/sum differ from the direct aggregate"
        if q["kind"] == "smooth":
            exp = np.empty(len(key))
            mean = s / n
            url_of = uk // 10**9
            for u in np.unique(url_of):
                acc = w = 0.0
                for j in np.flatnonzero(url_of == u):
                    # independent recurrence: S = βS + x, W = βW + 1, y = S/W
                    acc = (1 - EWMA_ALPHA) * acc + mean[j]
                    w = (1 - EWMA_ALPHA) * w + 1.0
                    exp[j] = acc / w
            if not np.allclose(out["ewma"].to_numpy()[order], exp, rtol=1e-9, atol=0):
                return "smooth: EWMA differs from the numpy recurrence"
        return None

    def _check_thumbs(self, img, wav) -> str | None:
        m = self.media
        n_img = int(np.isnan(m.rms).sum())
        if len(img) != n_img or len(wav) != len(m.rms) - n_img:
            return f"thumbs: row counts {len(img)}/{len(wav)}"
        if img["mean_r"].isna().any() or wav["rms"].isna().any():
            return "thumbs: null decode output"
        fmts = np.array(m.table["fmt"].to_pylist())
        ids = img["doc_id"].to_numpy()
        got = img[["mean_r", "mean_g", "mean_b"]].to_numpy()
        exp = m.means[ids]
        lossy = fmts[ids] == "jpeg"
        if not np.allclose(got[~lossy], exp[~lossy], rtol=0, atol=1e-9):
            return "thumbs: lossless channel means differ from the generated pixels"
        if not np.allclose(got[lossy], exp[lossy], rtol=0, atol=2.0):
            return "thumbs: JPEG channel means off by more than 2 levels"
        if not np.allclose(wav["rms"].to_numpy(), m.rms[wav["doc_id"].to_numpy()], rtol=1e-9):
            return "thumbs: WAV RMS differs from the generated samples"
        return None

    def bytes_per_point(self, op: Op) -> float:
        return self.store_bpp

    def layer_counts(self, op: Op) -> dict:
        img, wav = op.out[-1][1]
        return {"multimodal.null_outputs":
                int(img["mean_r"].isna().sum() + wav["rms"].isna().sum())}


# -- ingest --------------------------------------------------------------------

class Ingest(Workload):
    name = "ingest"

    N_FILES = 32  # 4 micro-batches per query at the job's 8 files per trigger

    def setup(self):
        n_files = max(16, int(self.N_FILES * self.scale) // 8 * 8)
        c = gen.crawl(self.seed, n_urls=int(360 * self.scale), days=2,
                      min_interval=300.0, max_interval=3600.0, dup_share=0.1,
                      rows=int(100_000 * self.scale))
        self.crawl = c
        files, n_late = gen.ingest_files(c, n_files, late_share=0.1, seed=self.seed)
        self.setup_info = {"rows": c.pages.num_rows, "dups": c.n_dups, "files": n_files,
                           "late_files": n_late}
        self.hashes["pages"] = gen.table_hash(c.pages)
        self.source = self._source("source", files)
        self.in_bytes = _dir_bytes(self.source)[1]
        # warm-up source: two files, drained one file per trigger, so both
        # the first batch and the join-against-older-batches path run
        self.warm_source = self._source("warm", files[:2])

    def _source(self, name: str, files: list) -> str:
        path = os.path.join(self.root, name)
        os.makedirs(path)
        t_base = 1_600_000_000
        for k, t in enumerate(files):  # delivery order = file mtime order
            p = os.path.join(path, f"part-{k:05d}.parquet")
            pq.write_table(t, p)
            os.utime(p, (t_base + k, t_base + k))
        return path

    def warmup(self, first_op: int) -> int:
        from jobs.stream_ingest_job import run

        out = os.path.join(self.root, f"lake-warm-{first_op}")
        run(self.spark, self.warm_source, out, dedup_mode="report-join",
            max_files_per_trigger=1)
        shutil.rmtree(out, ignore_errors=True)
        return first_op + 1

    def op(self, i: int) -> Op:
        from jobs.stream_ingest_job import run

        out = os.path.join(self.root, f"lake-{i}")
        with self.tr.span("stream_ingest_job.run"):
            m = run(self.spark, self.source, out, dedup_mode="report-join")
        return Op(self.crawl.pages.num_rows, self.in_bytes, out=(out, m))

    def check(self, op: Op) -> str | None:
        _, m = op.out
        d, r = m.get("dedup", {}), m.get("rollup_blobs", {})
        if d.get("docs") != self.crawl.pages.num_rows:
            return f"docs {d.get('docs')} != {self.crawl.pages.num_rows}"
        if d.get("dups") != self.crawl.n_dups:
            return f"dups {d.get('dups')} != {self.crawl.n_dups}"
        if not r.get("roundtrip_ok") or not r.get("points"):
            return f"rollup blobs not verified: {r}"
        return None

    def bytes_per_point(self, op: Op) -> float:
        return float(op.out[1]["rollup_blobs"]["bytes_per_point"])

    def layer_counts(self, op: Op) -> dict:
        lake, m = op.out
        fs = os.path.join(lake, "_first_seen")
        parts = sorted(int(d.split("=", 1)[1]) for d in os.listdir(fs)
                       if d.startswith("batch_id=") and _dir_bytes(os.path.join(fs, d))[0])
        batches = sorted(int(d.split("=", 1)[1]) for d in os.listdir(os.path.join(lake, "dedup"))
                         if d.startswith("batch_id="))
        # every batch reads the first-seen partitions of all older batches
        reads = sum(sum(1 for p in parts if p < b) for b in batches)
        return {"ingest.first_seen_partitions_read": reads,
                "ingest.dups": m["dedup"]["dups"]}

    def release(self, op: Op):
        shutil.rmtree(op.out[0], ignore_errors=True)


WORKLOADS = {w.name: w for w in (Dashboard, Ingest)}
