"""Seeded input generators for the benchmark.

Everything the program sees is written here, before timing starts:

- ``write_tables``: the star-schema tables the spatial joins read and the
  ``documents`` corpus that the curation composites read (same schemas,
  value ranges and single-row-group parquet layout as the engine's
  synthetic test tables), sized by ``sf``.
- ``qalert_batches``: hourly QAlert ndjson batches with updates to live
  tickets, child tickets, PII comments, the three JsonCoder glitches and a
  few unrepairable junk lines. Pure Python; a given seed gives
  byte-identical files.

The same seed always gives the same inputs.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def _days(rng, start: str, n: int, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(len(table), 1))


def write_tables(out_dir: str, seed: int, sf: float, names: list[str]) -> None:
    """Write the named tables at scale ``sf`` (sf 1 ~ 1.5M orders)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_ord, n_doc = int(150_000 * sf), int(10_000 * sf), int(1_500_000 * sf), int(50_000 * sf)
    for name in names:
        # one stream per table, so the tables do not depend on each other's order
        rng = np.random.default_rng([seed, sum(map(ord, name))])
        if name == "region":
            _write(out_dir, name, {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            })
        elif name == "nation":
            _write(out_dir, name, {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            })
        elif name == "supplier":
            _write(out_dir, name, {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            })
        elif name == "orders":
            _write(out_dir, name, {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
                "o_totalprice": np.round(rng.uniform(800.0, 450_000.0, n_ord), 2),
                "o_orderdate": _days(rng, "1995-01-01", n_ord, 2404),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            })
        elif name == "documents":
            lens = rng.integers(10, 101, n_doc)
            words = rng.choice(VOCAB, int(lens.sum()))
            texts, pos = [], 0
            for n in lens:
                texts.append(" ".join(words[pos:pos + n]))
                pos += n
            # ~1% exact copies of an earlier document, as in real crawls
            for i in np.flatnonzero(rng.random(n_doc) < 0.01):
                if i > 0:
                    texts[i] = texts[int(rng.integers(0, i))]
            _write(out_dir, name, {
                "doc_id": np.arange(n_doc, dtype=np.int64),
                "text": texts,
                "lang": rng.choice(_LANGS, n_doc),
                "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            })
        else:
            raise ValueError(f"unknown table {name!r}")


# -- QAlert ndjson ------------------------------------------------------------

QALERT_FIELDS = [
    ("id", "long"), ("master", "long"), ("addDateUnix", "long"), ("lastActionUnix", "long"),
    ("status", "long"), ("comments", "string"), ("streetNum", "string"),
    ("streetName", "string"), ("crossStreetName", "string"), ("cityName", "string"),
    ("latitude", "double"), ("longitude", "double"),
]
_STREETS = ["5TH AVE", "FORBES AVE", "MURRAY AVE", "PENN AVE", "S 22ND ST", "E CARSON ST",
            "LIBERTY AVE", "BUTLER ST", "WALNUT ST", "BROWNSVILLE RD"]
_REQUEST_TYPES = ["pothole", "streetlight out", "missed pickup", "graffiti", "abandoned vehicle",
           "illegal dumping", "snow removal", "tree down", "water leak", "noise"]
_JUNK = ['<html><body>502 Bad Gateway</body></html>', '{"id": 9, "master": 0, "comm',
         'ERROR rate limit exceeded', '{"id" 12 "status" 3}']


def _comment(r: random.Random) -> str:
    text = f"{r.choice(_REQUEST_TYPES)} near {r.choice(_STREETS).lower()}"
    roll = r.random()
    if roll < 0.08:
        return f"{text}, call {r.randint(200, 999)}-{r.randint(200, 999)}-{r.randint(1000, 9999)}"
    if roll < 0.15:
        return f"{text}, email resident{r.randint(1, 9999)}@example.com"
    if roll < 0.20:
        return f"{text}, ssn {r.randint(100, 899)}-{r.randint(10, 99)}-{r.randint(1000, 9999)} given"
    return text


def qalert_batches(seed: int, n_batches: int, per_batch: int):
    """Yield ``(text, expected)`` per batch. ``text`` is the ndjson file body;
    ``expected`` holds the latest ``(last_action_unix, status, master)`` of
    every ticket so far, the set of parent ids so far, the raw junk lines of
    this batch, and the number of records in it."""
    r = random.Random(seed)
    latest: dict[int, tuple[int, int, int]] = {}
    parents: list[int] = []
    next_id = 1_000_000
    for b in range(n_batches):
        t0 = 1_600_000_000 + b * 3600
        live = list(latest)
        updates = r.sample(live, min(len(live), int(per_batch * 0.3)))
        recs = []
        for tid in updates:
            prev_last, _, master = latest[tid]
            last = max(prev_last, t0) + r.randint(1, 3599)
            recs.append({"id": tid, "master": master, "lastActionUnix": last,
                         "status": r.choice([1, 1, 3, 4])})
        batch_parents: list[int] = []
        while len(recs) < per_batch:
            tid, next_id = next_id, next_id + 1
            pool = parents or batch_parents
            if pool and r.random() < 0.1:
                master = r.choice(pool)
            else:
                master = 0
                batch_parents.append(tid)
            recs.append({"id": tid, "master": master, "lastActionUnix": t0 + r.randint(0, 3599),
                         "status": r.choice([0, 0, 0, 3])})
        r.shuffle(recs)
        lines = []
        for rec in recs:
            add = rec["lastActionUnix"] - r.randint(0, 86_400)
            zero = r.random() < 0.05
            full = {
                "id": rec["id"], "master": rec["master"], "addDateUnix": add,
                "lastActionUnix": rec["lastActionUnix"], "status": rec["status"],
                "comments": _comment(r), "streetNum": str(r.randint(1, 9999)) if r.random() < 0.7 else "",
                "streetName": r.choice(_STREETS), "crossStreetName": r.choice(_STREETS + [""]),
                "cityName": "Pittsburgh",
                "latitude": 0.0 if zero else round(40.44 + r.uniform(-0.08, 0.08), 6),
                "longitude": 0.0 if zero else round(-79.95 + r.uniform(-0.1, 0.1), 6),
            }
            line = json.dumps(full, separators=(",", ":"))
            glitch = r.random()
            if glitch < 0.003:  # missing value: ":,"
                line = line.replace(f'"crossStreetName":{json.dumps(full["crossStreetName"])},',
                                    '"crossStreetName":,')
            elif glitch < 0.006:  # spurious escape
                line = line.replace('"comments":"', "\"comments\":\"can\\'t wait: ")
            if lines and r.random() < 0.003:  # two objects on one line: "}{"
                lines[-1] += line
            else:
                lines.append(line)
            latest[rec["id"]] = (rec["lastActionUnix"], rec["status"], rec["master"])
        parents.extend(batch_parents)
        junk = [r.choice(_JUNK) + f" #{b}.{i}" for i in range(max(1, per_batch // 2000))]
        for j in junk:
            lines.insert(r.randint(0, len(lines)), j)
        yield "\n".join(lines) + "\n", {
            "latest": dict(latest), "parents": set(parents), "junk": junk, "records": len(recs),
        }


def write_qalert(out_dir: str, seed: int, n_batches: int, per_batch: int) -> list[tuple[str, dict]]:
    """Write ``batch_<i>.ndjson`` files; return ``[(path, expected), ...]``."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for i, (text, expected) in enumerate(qalert_batches(seed, n_batches, per_batch)):
        path = os.path.join(out_dir, f"batch_{i}.ndjson")
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        expected["bytes"] = len(text.encode("utf-8"))
        out.append((path, expected))
    return out
