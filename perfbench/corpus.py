"""Seeded page corpora for the perfbench workloads and their extract_one oracle.

Every corpus is a pure function of (workload, pages, seed). It is written as
sharded parquet with the ``pages`` schema of ``datagen.pages`` and cached
under ``perfbench/.work/corpus`` together with the oracle records, so a
repeated seed skips generation. The oracle is ``operators.extract.extract_one``
run page by page outside Spark; before it is trusted, ``pin_extract_one``
checks it against the committed fixture ``tests/fixtures_extracted_seed42_n150.json``.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random
import shutil
import zlib
from multiprocessing import get_context, resource_tracker

_EPOCH = _dt.datetime(2024, 1, 1)


def crawl_rows(n_pages: int, seed: int) -> list[dict]:
    """The datagen default mix: html/xml/pdf/noise/rtf, +5 % exact and +5 %
    near duplicates, Zipf hosts."""
    from pubscience_spark.datagen.pages import generate_pages
    return generate_pages(n_pages, seed)


def pdf_heavy_rows(n_pages: int, seed: int) -> list[dict]:
    """~80 % ``make_pdf`` and ~20 % ``make_article_html`` pages on Zipf
    hosts."""
    from pubscience_spark.datagen.pages import (DOMAINS, make_article_html,
                                                make_pdf)
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) for i in range(len(DOMAINS))]
    rows = []
    for i in range(n_pages):
        domain = rng.choices(DOMAINS, weights=weights, k=1)[0]
        lang = rng.choices(["en", "nl", "de"], weights=[0.7, 0.2, 0.1], k=1)[0]
        if rng.random() < 0.8:
            kind, html = "pdf", make_pdf(rng, lang, i)
        else:
            kind = "article"
            html = make_article_html(rng, lang, i).encode("utf-8")
        rows.append({"url": f"https://{domain}/{kind}/{i:08d}",
                     "warc_ts": _EPOCH + _dt.timedelta(seconds=17 * i),
                     "html": html, "text": "", "lang": lang})
    return rows


GENERATORS = {"crawl": crawl_rows, "pdf_heavy": pdf_heavy_rows}


def _write_parquet(rows: list[dict], path: str, n_shards: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path)
    per = (len(rows) + n_shards - 1) // n_shards
    for s in range(n_shards):
        chunk = rows[s * per:(s + 1) * per]
        if not chunk:
            break
        table = pa.table({
            "url": pa.array([r["url"] for r in chunk], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in chunk],
                                pa.timestamp("us")),
            "html": pa.array([r["html"] for r in chunk], pa.binary()),
            "text": pa.array([r["text"] for r in chunk], pa.string()),
            "lang": pa.array([r["lang"] for r in chunk], pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{s:05d}.parquet"),
                       row_group_size=512)


def _extract_chunk(chunk: list[tuple[str, bytes]]) -> list[list]:
    from pubscience_spark.operators.extract import extract_one
    out = []
    for url, raw in chunk:
        r = extract_one(raw)
        out.append([url, r["route"], r["sha256"], r["dedup_key"],
                    r["error"] is not None, len(raw)])
    return out


def oracle_records(rows: list[dict], procs: int) -> list[list]:
    """``[url, route, sha256, dedup_key, is_error, html_bytes]`` per page,
    from extract_one in ``procs`` worker processes (each page is extracted
    by one single-threaded extract_one call; Spark is not involved)."""
    pairs = [(r["url"], r["html"]) for r in rows]
    step = max(1, len(pairs) // (procs * 8))
    chunks = [pairs[i:i + step] for i in range(0, len(pairs), step)]
    with get_context("spawn").Pool(procs) as pool:
        parts = pool.map(_extract_chunk, chunks)
        pool.close()
        pool.join()
    # the pool started multiprocessing's resource tracker: stop and reap it
    resource_tracker._resource_tracker._stop()
    return [rec for part in parts for rec in part]


def load(cache_dir: str, kind: str, n_pages: int, seed: int,
         n_shards: int, procs: int) -> tuple[str, list[list]]:
    """Return (pages parquet dir, oracle records), generating on a miss."""
    key = os.path.join(cache_dir, f"{kind}-n{n_pages}-seed{seed}")
    pages, recs = os.path.join(key, "pages"), os.path.join(key, "oracle.json")
    if os.path.exists(recs):
        with open(recs) as fh:
            return pages, json.load(fh)
    shutil.rmtree(key, ignore_errors=True)
    rows = GENERATORS[kind](n_pages, seed)
    _write_parquet(rows, pages, n_shards)
    records = oracle_records(rows, procs)
    tmp = recs + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(records, fh)
    os.replace(tmp, recs)
    return pages, records


def pin_extract_one(fixture_path: str) -> list[str]:
    """extract_one over the seed-42 150-page corpus must reproduce the
    committed fixture (sha256, route, n_chars); returns the mismatching urls."""
    from pubscience_spark.datagen.pages import generate_pages
    from pubscience_spark.operators.extract import extract_one
    with open(fixture_path) as fh:
        fixture = json.load(fh)
    got = {r["url"]: extract_one(r["html"]) for r in generate_pages(150, 42)}
    bad = sorted(set(got) ^ set(fixture))
    for url, exp in fixture.items():
        r = got.get(url)
        if r is not None and (r["sha256"], r["route"], r["n_chars"]) != (
                exp["sha256"], exp["route"], exp["n_chars"]):
            bad.append(url)
    return bad


# --- expected outputs -------------------------------------------------------

def crc(*parts: str) -> int:
    return zlib.crc32("|".join(parts).encode("utf-8"))


def dup_flags(records: list[list], prior: dict | None = None
              ) -> tuple[dict[str, bool], dict]:
    """``mark_duplicates_incremental`` semantics on ("sha256", "dedup_key")
    ordered by url: a keeper committed earlier (``prior``) wins, otherwise
    the smallest url holding the key. Returns (url -> is_duplicate, keepers)."""
    keepers = dict(prior or {})
    fresh: dict = {}
    for url, _, sha, dk, _, _ in records:
        for key in (("sha256", sha), ("dedup_key", dk)):
            if key not in keepers and (key not in fresh or url < fresh[key]):
                fresh[key] = url
    keepers.update(fresh)
    flags = {url: url != keepers[("sha256", sha)]
             or url != keepers[("dedup_key", dk)]
             for url, _, sha, dk, _, _ in records}
    return flags, keepers


def expected(records: list[list], flags: dict[str, bool] | None) -> dict:
    """Row count, error rows, Σcrc32(url|sha256) and, when duplicate flags
    apply, the duplicate count and Σcrc32(url|sha256|dup)."""
    out = {"rows": len(records),
           "errors": sum(1 for r in records if r[4]),
           "checksum": sum(crc(r[0], r[2]) for r in records)}
    if flags is not None:
        out["dups"] = sum(flags[r[0]] for r in records)
        out["dup_checksum"] = sum(crc(r[0], r[2], "1" if flags[r[0]] else "0")
                                  for r in records)
    return out
