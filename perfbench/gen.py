"""Seeded input generators for the benchmark.

Everything the program under test sees is built here from ``seed``: the
same seed gives byte-identical tables (``table_hash`` prints the proof).

- :func:`crawl` models a web crawl: urls on log-uniform ("hot") domains,
  per-url re-crawl interval (hot domains are crawled more often) with
  per-crawl jitter, page sizes that change on a known share of re-crawls,
  and a known share of duplicate content (a page whose html is a byte copy
  of another page).
- :func:`ingest_files` cuts a crawl into time-ordered source files and
  delivers a known share of them late (out of event-time order).
- :func:`media_mix` builds JPEG-4:2:0 (with DRI restart markers), GIF, PNG,
  BMP and WAV payloads whose decoded channel means / RMS are known.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z, a day boundary
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
_LANGS = ["en", "de", "fr", "es", "it"]


@dataclass
class Crawl:
    pages: pa.Table          # PAGES_SCHEMA, in event-time order
    url_idx: np.ndarray      # int32 url index per row
    ts: np.ndarray           # int64 epoch seconds per row
    value: np.ndarray        # float64 length(html) per row
    urls: np.ndarray         # url strings, index = url_idx
    n_dups: int              # rows minus distinct html contents
    start: int               # first second of the span (day aligned)
    days: int


def table_hash(table: pa.Table) -> str:
    """sha256 of the table's Arrow IPC stream — equal hashes mean
    byte-identical inputs."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()


def crawl(seed: int, n_urls: int, days: int, n_domains: int = 40,
          min_interval: float = 120.0, max_interval: float = 3600.0,
          dup_share: float = 0.0, change_share: float = 0.1,
          rows: int | None = None) -> Crawl:
    """A ``days``-long crawl of ``n_urls`` urls starting at a day boundary.

    Re-crawl interval per url is log-uniform in [min_interval,
    max_interval], shrunk for hot domains; each crawl lands at its grid
    point ± 30 % of the interval, so a url's crawls stay ordered and its
    (url, second) keys stay unique. ``rows`` keeps a seeded sample of
    exactly that many crawls, so every seed gives the same input size.
    ``dup_share`` of rows get the html of another row (duplicate content)."""
    rng = np.random.default_rng([seed, n_urls, days])
    start = EPOCH + 86400 * int(rng.integers(0, 365))
    span = 86400 * days
    # log-uniform domain id: low ids are the hot domains
    dom = np.floor(np.exp(rng.random(n_urls) * np.log(n_domains))).astype(np.int64) - 1
    cold = 1.0 / (1.0 + np.log1p(n_domains - 1 - dom))  # hot domain 0 → 0.21, coldest → 1
    interval = np.exp(rng.uniform(np.log(min_interval), np.log(max_interval), n_urls))
    interval = np.maximum(min_interval, interval * (0.25 + cold))
    phase = rng.uniform(0.3, 1.0, n_urls) * interval
    counts = np.floor((span - phase) / interval).astype(np.int64)
    url_idx = np.repeat(np.arange(n_urls, dtype=np.int32), counts)
    n = len(url_idx)
    k = np.arange(n) - np.repeat(np.cumsum(counts) - counts, counts)
    jitter = rng.uniform(-0.3, 0.3, n)
    ts = start + np.floor(phase[url_idx] + (k + jitter) * interval[url_idx]).astype(np.int64)
    # page size: per-url base, a step change on change_share of re-crawls
    base = np.clip(rng.lognormal(np.log(90.0), 0.5, n_urls), 24, 400).astype(np.int64)
    step = np.where(rng.random(n) < change_share, rng.integers(-16, 17, n), 0)
    step[np.cumsum(counts) - counts] = 0  # a url's first crawl has its base size
    csum = np.cumsum(step)
    first = np.repeat(csum[np.cumsum(counts) - counts], counts)
    length = np.clip(base[url_idx] + csum - first, 16, 600)
    if rows is not None:
        if rows > n:
            raise ValueError(f"crawl has {n} rows, fewer than {rows}")
        keep = np.sort(rng.choice(n, size=rows, replace=False))
        url_idx, ts, length, n = url_idx[keep], ts[keep], length[keep], rows
    content = np.arange(n, dtype=np.int64)
    n_dups = 0
    if dup_share > 0:
        dup_rows = rng.choice(n, size=int(round(dup_share * n)), replace=False)
        src = rng.integers(0, n, size=len(dup_rows))
        content[dup_rows] = content[src]
        length[dup_rows] = length[src]
        # a chain (a copies b while b copies c) still collapses to one
        # content; count what the data actually holds
        n_dups = n - len(np.unique(content))
    order = np.lexsort((url_idx, ts))
    url_idx, ts, length, content = url_idx[order], ts[order], length[order], content[order]
    urls = np.array([f"https://site{d}.example/p/{i}" for i, d in enumerate(dom)], dtype=object)
    html = _html(content, length)
    pages = pa.table({
        "url": pa.array(urls, pa.string()).take(pa.array(url_idx)),
        "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        "html": html,
        "text": pa.array(["page text"], pa.string()).take(pa.array(np.zeros(n, np.int32))),
        "lang": pa.array(_LANGS, pa.string()).take(pa.array(dom[url_idx] % len(_LANGS))),
    }, schema=PAGES_SCHEMA)
    return Crawl(pages, url_idx, ts, length.astype(np.float64), urls, n_dups,
                 start, days)


def _html(content: np.ndarray, length: np.ndarray) -> pa.Array:
    """Binary html of exactly ``length`` bytes: the 8-byte content id, then
    filler. Equal content ids (and so equal lengths) give equal bytes."""
    n = len(content)
    ids = pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(np.arange(0, 8 * n + 1, 8, dtype=np.int32)),
         pa.py_buffer(content.astype("<u8").tobytes())])
    filler = pc.binary_repeat(pa.scalar(b"x", pa.binary()), pa.array(length - 8))
    return pc.binary_join_element_wise(ids, filler, pa.scalar(b"", pa.binary()))


def ingest_files(c: Crawl, n_files: int, late_share: float, seed: int):
    """Cut the crawl into ``n_files`` event-time slices and return them in
    delivery order, with ``late_share`` of the files delivered 3-6 slots
    after their time order (late, out-of-order data).

    Returns (list of tables, number of late files)."""
    rng = np.random.default_rng([seed, n_files, 11])
    bounds = np.linspace(0, c.pages.num_rows, n_files + 1).astype(np.int64)
    slices = [c.pages.slice(bounds[i], bounds[i + 1] - bounds[i]) for i in range(n_files)]
    late = rng.choice(np.arange(1, n_files - 6), size=int(round(late_share * n_files)),
                      replace=False)
    pos = np.arange(n_files, dtype=np.float64)
    pos[late] += rng.integers(3, 7, len(late)) + 0.5
    order = np.argsort(pos, kind="stable")
    return [slices[i] for i in order], len(late)


@dataclass
class Media:
    table: pa.Table        # doc_id bigint, fmt string, payload binary
    means: np.ndarray      # (n, 3) known channel means of the source pixels
    rms: np.ndarray        # known RMS of the WAV samples (nan for images)


def media_mix(seed: int, per_kind: int) -> Media:
    """``per_kind`` payloads each of JPEG-4:2:0 (DRI every 4 MCUs), GIF
    (grayscale palette, real LZW), PNG (None/Sub/Up filters), 24-bit BMP
    and 16-bit mono WAV, interleaved."""
    from ezmsg_sigproc_spark.operators.gif import synth_gif
    from ezmsg_sigproc_spark.operators.multimodal import (
        synth_bmp, synth_jpeg, synth_png, synth_wav)

    rng = np.random.default_rng([seed, per_kind, 13])
    kinds = ["jpeg", "gif", "png", "bmp", "wav"]
    ids, fmts, payloads, means, rms = [], [], [], [], []
    for i in range(per_kind * len(kinds)):
        kind = kinds[i % len(kinds)]
        if kind == "wav":
            n = 8000 + int(rng.integers(0, 8000))
            t = np.arange(n) / 16000.0
            x = np.clip(0.5 * np.sin(2 * np.pi * (100 + int(rng.integers(0, 400))) * t)
                        + 0.1 * rng.standard_normal(n), -1, 1)
            payloads.append(synth_wav(x, 16000))
            q = np.round(x * 32767.0) / 32768.0  # what 16-bit PCM decodes to
            means.append((np.nan,) * 3)
            rms.append(float(np.sqrt(np.mean(q * q))))
        else:
            h, w = 48 + int(rng.integers(0, 48)), 48 + int(rng.integers(0, 48))
            grad = np.add.outer(np.arange(h) * 3, np.arange(w) * 5) % 256
            img = ((grad[:, :, None] + rng.integers(0, 32, (h, w, 3))) % 256).astype(np.uint8)
            if kind == "gif":
                img = np.repeat(img.mean(axis=2).astype(np.uint8)[:, :, None], 3, axis=2)
                payloads.append(synth_gif(img[:, :, 0]))
            elif kind == "png":
                payloads.append(synth_png(img))
            elif kind == "bmp":
                payloads.append(synth_bmp(img))
            else:
                payloads.append(synth_jpeg(img, subsample="420", restart_interval=4))
            means.append(tuple(img.reshape(-1, 3).mean(axis=0)))
            rms.append(np.nan)
        ids.append(i)
        fmts.append(kind)
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "fmt": pa.array(fmts, pa.string()),
                      "payload": pa.array(payloads, pa.binary())})
    return Media(table, np.array(means, dtype=np.float64), np.array(rms))
