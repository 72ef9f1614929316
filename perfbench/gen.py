"""Seeded input generators with planted ground truth.

Every generator takes only the seed (plus fixed sizes) and writes files;
the library sees nothing but those files. For one seed the bytes are
identical from run to run: all randomness comes from ``random.Random``
seeded per generator, and files are written with fixed formatting.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import io
import json
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
DAY = 86_400

TS_HEADERS = ("timestamp", "time", "datetime", "date")
VAL_HEADERS = ("value", "amount", "count", "qty", "quantity")
MET_HEADERS = ("metric", "name", "metric_name")


def _ts_text(sec: int, style: int) -> str:
    t = EPOCH0 + dt.timedelta(seconds=sec)
    if style == 0:
        return t.strftime("%Y-%m-%dT%H:%M:%SZ")
    if style == 1:
        return t.strftime("%Y-%m-%d %H:%M:%S")
    return t.strftime("%Y/%m/%d %H:%M:%S")


def _cents_text(c: int) -> str:
    sign = "-" if c < 0 else ""
    c = abs(c)
    return f"{sign}{c // 100}.{c % 100:02d}"


def write_parquet(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def sha256_tree(path: str) -> str:
    """Digest over every file's relative path and bytes."""
    h = hashlib.sha256()
    for dp, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# --------------------------------------------------------------- ingest


class IngestGen:
    """Raw metric batches for the ingest loop.

    Batch ``b`` lands on day ``history_days + b`` with ~5% late rows into
    the previous week, ~1% invalid rows (bad value, bad timestamp,
    missing metric, and on NDJSON a corrupt line), ~2% in-batch exact
    copies and ~2% copies of keys already stored (with a different
    value, so first-write-wins is visible). Even batches are CSV, odd
    ones NDJSON, each with its own synonym headers and column order.
    Batches must be drawn in order: cross-batch duplicates and key
    uniqueness depend on what earlier batches emitted.
    """

    METRICS = ("cpu_load", "mem_used", "latency_ms", "error_count", "requests")

    def __init__(self, seed: int, rows_per_batch: int, history_days: int,
                 history_rows_per_day: int):
        self.rng = random.Random(f"ingest/{seed}")
        self.rows_per_batch = rows_per_batch
        self.history_days = history_days
        self.history_rows_per_day = history_rows_per_day
        self.keys: set[tuple[int, str]] = set()
        self.key_list: list[tuple[int, str]] = []
        #: every row silver must hold: (epoch sec, metric, value cents)
        self.inserted: list[tuple[int, str, int]] = []

    def _fresh(self, day: int, n: int) -> list[tuple[int, str, int]]:
        rng, out = self.rng, []
        while len(out) < n:
            key = (day * DAY + rng.randrange(DAY), rng.choice(self.METRICS))
            if key in self.keys:
                continue
            self.keys.add(key)
            self.key_list.append(key)
            out.append((key[0], key[1], rng.randrange(-5_000, 250_000)))
        return out

    def history(self, path: str, days: range | None = None, fmt: str = "csv") -> dict:
        """Seeded history days (all of them by default) as one file with
        the canonical header: CSV, or NDJSON (``fmt="json"``)."""
        days = range(self.history_days) if days is None else days
        rows = []
        for d in days:
            rows.extend(self._fresh(d, self.history_rows_per_day))
        self.inserted.extend(rows)
        with open(path, "w", newline="") as f:
            if fmt == "csv":
                w = csv.writer(f, lineterminator="\n")
                w.writerow(["timestamp", "value", "metric"])
                for sec, m, c in rows:
                    w.writerow([_ts_text(sec, 0), _cents_text(c), m])
            else:
                for sec, m, c in rows:
                    f.write(json.dumps({"timestamp": _ts_text(sec, 0),
                                        "value": float(_cents_text(c)), "metric": m}) + "\n")
        return {"rows": len(rows), "days": len(days)}

    def batch(self, b: int, out_dir: str) -> dict:
        """Write batch ``b``; return its path, format and planted truth."""
        rng = self.rng
        n = self.rows_per_batch
        n_invalid = n // 100
        n_dup_in = n // 50
        n_dup_cross = n // 50
        n_fresh = n - n_invalid - n_dup_in - n_dup_cross
        day = self.history_days + b
        n_late = n_fresh // 20
        cross = [self.key_list[rng.randrange(len(self.key_list))]
                 for _ in range(n_dup_cross)]
        fresh = self._fresh(day, n_fresh - n_late)
        for _ in range(n_late):
            fresh.extend(self._fresh(day - 1 - rng.randrange(7), 1))
        touched = sorted({(EPOCH0 + dt.timedelta(seconds=s)).date().isoformat()
                          for s, _, _ in fresh})
        self.inserted.extend(fresh)
        style = b % 3
        # rows: (ts text, value text, metric text, kind)
        rows = [(_ts_text(s, style), _cents_text(c), m, "ok") for s, m, c in fresh]
        rows += [rows[rng.randrange(len(fresh))] for _ in range(n_dup_in)]
        rows += [(_ts_text(s, style), _cents_text(rng.randrange(1, 9_999)), m, "ok")
                 for s, m in cross]
        fmt = "csv" if b % 2 == 0 else "json"
        bad_kinds = ("value", "ts", "metric") + (("corrupt",) if fmt == "json" else ())
        for j in range(n_invalid):
            s, m, c = fresh[rng.randrange(len(fresh))]
            kind = bad_kinds[j % len(bad_kinds)]
            if kind == "value":
                rows.append((_ts_text(s, style), "n/a", m, kind))
            elif kind == "ts":
                rows.append(("2025-13-45 99:61:00", _cents_text(c), m, kind))
            else:
                rows.append((_ts_text(s, style), _cents_text(c), "", kind))
        rng.shuffle(rows)
        ts_h, val_h, met_h = (rng.choice(TS_HEADERS), rng.choice(VAL_HEADERS),
                              rng.choice(MET_HEADERS))
        order = [0, 1, 2]
        rng.shuffle(order)
        header = [(ts_h, val_h, met_h)[k] for k in order]
        path = os.path.join(out_dir, f"batch_{b:04d}.{fmt}")
        with open(path, "w", newline="") as f:
            if fmt == "csv":
                w = csv.writer(f, lineterminator="\n")
                w.writerow(header)
                for r in rows:
                    w.writerow([r[k] for k in order])
            else:
                for ts, val, met, kind in rows:
                    if kind == "corrupt":
                        f.write('{"%s": "%s", "%s": ' % (ts_h, ts, val_h) + "\n")
                        continue
                    obj = {ts_h: ts, val_h: val if kind == "value" else float(val)}
                    if kind != "metric":
                        obj[met_h] = met
                    f.write(json.dumps({k: obj[k] for k in header if k in obj}) + "\n")
        return {
            "batch": b,
            "path": path,
            "format": fmt,
            "bytes": os.path.getsize(path),
            "ingested_rows": n - n_invalid,
            "skipped_rows": n_invalid,
            "duplicate_rows": n_dup_in + n_dup_cross,
            "inserted_rows": len(fresh),
            "touched_days": touched,
        }


# --------------------------------------------------------------- api reads


class ApiGen:
    """Raw events whose daily KPIs form the gold table the reads serve,
    and a seeded request mix over it.

    Series have a level, a trend, a weekly cycle and noise, with a few
    planted spikes so the z-score read finds outliers. Requests come in
    blocks that each hold the same mix (``MIX``), shuffled per block, so
    the share of each read type is the same for every seed. The three
    slow kinds (z-score, reliability, forecast) are a fifth of the mix,
    so p90 falls in the middle of the slow requests and p50 well inside
    the fast ones, not on the edge between two kinds.
    """

    METRICS = tuple(f"kpi_{i:02d}" for i in range(8))
    MIX = ("fetch",) * 10 + ("export",) * 2 + ("zscore", "reliability", "forecast")

    def __init__(self, seed: int, days: int, events_per_day: int):
        self.rng = random.Random(f"api/{seed}")
        self.days = days
        self.events_per_day = events_per_day

    def raw(self, path: str, chunks: int) -> list[str]:
        """Write the raw events as ``chunks`` CSV files of consecutive days."""
        rng = self.rng
        per_chunk = -(-self.days // chunks)
        paths = []
        params = {m: (rng.uniform(50, 400), rng.uniform(-0.3, 0.6), rng.uniform(0.05, 0.3))
                  for m in self.METRICS}
        spikes = {(rng.randrange(self.days), rng.choice(self.METRICS)) for _ in range(12)}
        for c in range(chunks):
            p = os.path.join(path, f"raw_{c:02d}.csv")
            with open(p, "w", newline="") as f:
                w = csv.writer(f, lineterminator="\n")
                w.writerow(["timestamp", "value", "metric"])
                for d in range(c * per_chunk, min(self.days, (c + 1) * per_chunk)):
                    for m in self.METRICS:
                        level, trend, season = params[m]
                        base = level + trend * d
                        base *= 1 + season * (1 if d % 7 in (5, 6) else 0)
                        if (d, m) in spikes:
                            base *= 4
                        secs = rng.sample(range(DAY), self.events_per_day)
                        for s in sorted(secs):
                            cents = max(1, int(base * 100 * rng.uniform(0.8, 1.2)
                                               / self.events_per_day))
                            w.writerow([_ts_text(d * DAY + s, 0), _cents_text(cents), m])
            paths.append(p)
        return paths

    def requests(self, n: int) -> list[dict]:
        rng, out = self.rng, []
        while len(out) < n:
            block = list(self.MIX)
            rng.shuffle(block)
            for kind in block:
                span = rng.randrange(28, 150)
                start = rng.randrange(0, self.days - span)
                first = (EPOCH0 + dt.timedelta(days=start)).date()
                out.append({
                    "kind": kind,
                    "metric": rng.choice(self.METRICS),
                    "start": first.isoformat(),
                    "end": (first + dt.timedelta(days=span)).isoformat(),
                    "agg": rng.choice(("sum", "avg", "count")),
                })
        return out[:n]


# --------------------------------------------------------------- corpus

STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it",
             "with", "as", "on", "was", "at", "by")
#: short lines that line cleanup drops (fewer than three words each)
BOILERPLATE = ("Home", "Menu", "Share", "Cookie settings", "Login", "Next page",
               "Subscribe now", "Back")

_NORM_RE = re.compile("[^a-z0-9À-ɏ一-鿿]+")


def normalize(text: str) -> str:
    """``functions.text.normalize_text`` for the ASCII text generated here."""
    return _NORM_RE.sub(" ", text.lower()).strip(" ")


def tokens(text: str) -> list[str]:
    return normalize(text).split(" ")


def token_count(text: str) -> int:
    t = tokens(text)
    return int(t[0] != "") if len(t) == 1 else len(t)


_H60: dict[str, int] = {}


def h60(s: str) -> int:
    v = _H60.get(s)
    if v is None:
        v = _H60[s] = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    return v


def simhash(text: str) -> int:
    """60-bit SimHash over distinct tokens (bit j set iff more than half
    of the distinct tokens' hashes have bit j set)."""
    toks = set(tokens(text))
    hs = [h60(t) for t in toks]
    n, fp = len(hs), 0
    for j in range(60):
        c = sum((h >> j) & 1 for h in hs)
        if 2 * c > n:
            fp |= 1 << j
    return fp


def shingles(text: str, k: int = 3) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + k]) for i in range(max(len(t) - k, 0) + 1)}


class CorpusGen:
    """Documents with planted junk, exact duplicates, near-duplicate
    clusters (one long SimHash chain, so connected components needs many
    rounds), and training docs contaminated with eval passages."""

    def __init__(self, seed: int, n_docs: int, chain_len: int):
        self.rng = random.Random(f"corpus/{seed}")
        self.n_docs = n_docs
        self.chain_len = chain_len
        rng = self.rng
        cons, vows = "bcdfghjklmnprstvwz", "aeiou"
        vocab: set[str] = set()
        while len(vocab) < 5000:
            w = "".join(rng.choice(cons) + rng.choice(vows)
                        for _ in range(rng.randrange(2, 5)))
            vocab.add(w)
        self.vocab = sorted(vocab)

    def _sentence(self, lo: int = 8, hi: int = 16) -> str:
        rng = self.rng
        words = [rng.choice(STOPWORDS) if rng.random() < 0.35 else rng.choice(self.vocab)
                 for _ in range(rng.randrange(lo, hi))]
        return words[0].capitalize() + " " + " ".join(words[1:]) + "."

    def _doc(self) -> list[str]:
        rng = self.rng
        lines = [" ".join(self._sentence() for _ in range(rng.randrange(1, 3)))
                 for _ in range(rng.randrange(5, 9))]
        for _ in range(rng.randrange(0, 3)):
            lines.insert(rng.randrange(len(lines) + 1), rng.choice(BOILERPLATE))
        return lines

    def _chain(self) -> list[str]:
        """Docs where each is within SimHash distance 1..3 of the previous
        one and more than 3 from every earlier one."""
        rng = self.rng
        cur = self._doc()
        texts, fps = ["\n".join(cur)], [simhash("\n".join(cur))]
        while len(texts) < self.chain_len:
            line = " ".join(rng.choice(self.vocab) for _ in range(rng.randrange(3, 7)))
            cand = cur + [line]
            fp = simhash("\n".join(cand))
            d_prev = bin(fp ^ fps[-1]).count("1")
            if 1 <= d_prev <= 3 and all(bin(fp ^ f).count("1") > 3 for f in fps[:-1]):
                cur = cand
                texts.append("\n".join(cand))
                fps.append(fp)
        return texts

    def write(self, out_dir: str) -> dict:
        rng = self.rng
        n = self.n_docs
        eval_passages = [" ".join(self._sentence(10, 14) for _ in range(4)) for _ in range(40)]
        texts: list[str] = []
        truth = {"junk": [], "exact_groups": [], "near_clusters": [], "chain": [],
                 "contaminated": []}

        def add(text: str) -> int:
            texts.append(text)
            return len(texts) - 1

        chain_ids = [add(t) for t in self._chain()]
        truth["chain"] = chain_ids
        truth["near_clusters"].append(chain_ids)
        for _ in range(n // 40):  # small near-duplicate clusters
            lines = self._doc()
            members = [add("\n".join(lines))]
            for _ in range(rng.randrange(1, 4)):
                v = lines[:]
                rng.shuffle(v)
                members.append(add("\n".join(v)))
            truth["near_clusters"].append(members)
        for _ in range(n // 30):  # exact duplicates up to case and punctuation
            text = "\n".join(self._doc())
            group = [add(text)]
            for _ in range(rng.randrange(1, 3)):
                group.append(add(text.upper().replace(".", "!")))
            truth["exact_groups"].append(group)
        for _ in range(n // 50):  # contaminated with an eval passage
            lines = self._doc()[:2]
            lines.insert(1, rng.choice(eval_passages))
            truth["contaminated"].append(add("\n".join(lines)))
        for _ in range(n // 40):  # junk: nothing survives line cleanup
            truth["junk"].append(
                add("\n".join(rng.choice(BOILERPLATE) for _ in range(rng.randrange(3, 7)))))
        while len(texts) < n:
            add("\n".join(self._doc()))
        # doc ids: a seeded permutation, so planted docs are spread out
        ids = list(range(1, len(texts) + 1))
        rng.shuffle(ids)

        def remap(x):
            return [remap(v) for v in x] if isinstance(x, list) else ids[x]

        truth = {k: remap(v) for k, v in truth.items()}
        order = sorted(range(len(texts)), key=lambda i: ids[i])
        docs = pa.table({
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        })
        evals = pa.table({
            "doc_id": pa.array(range(1_000_001, 1_000_001 + len(eval_passages)), pa.int64()),
            "text": pa.array(eval_passages, pa.string()),
        })
        paths = {"docs": os.path.join(out_dir, "docs.parquet"),
                 "eval": os.path.join(out_dir, "eval.parquet")}
        write_parquet(paths["docs"], docs)
        write_parquet(paths["eval"], evals)
        with open(os.path.join(out_dir, "truth.json"), "w") as f:
            json.dump(truth, f, sort_keys=True)
        return {"paths": paths, "truth": truth,
                "texts": {ids[i]: texts[i] for i in range(len(texts))},
                "eval_texts": eval_passages}


# --------------------------------------------------------------- stream

EVENT_SCHEMA = pa.schema([
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("metric", pa.string()),
    ("value", pa.float64()),
])


class StreamGen:
    """Event files for the file source: file ``k`` covers event time
    ``[k, k+1) * FILE_SPAN`` plus ~5% late events up to 30 minutes back
    and ~3% exact duplicates of recent events — all inside the 1-hour
    watermark, so the streaming result must equal the batch one."""

    FILE_SPAN_US = 10 * 60 * 1_000_000
    #: file 0 starts an hour after EPOCH0, so its late events have room
    ORIGIN_US = int(EPOCH0.timestamp() * 1e6) + 6 * FILE_SPAN_US
    METRICS = ("click", "view", "buy", "scroll")
    SENTINEL_USER = -1

    def __init__(self, seed: int, events_per_file: int, users: int, name: str):
        self.rng = random.Random(f"stream/{name}/{seed}")
        self.events_per_file = events_per_file
        self.users = users
        self.keys: set[tuple[str, int]] = set()
        self.recent: list[tuple[int, int, str, float]] = []
        self.events: list[tuple[int, int, str, float]] = []
        self.k = 0

    def _event(self, lo_us: int, hi_us: int) -> tuple[int, int, str, float]:
        rng = self.rng
        while True:
            m, t = rng.choice(self.METRICS), rng.randrange(lo_us, hi_us)
            if (m, t) not in self.keys:
                self.keys.add((m, t))
                return (t, rng.randrange(self.users), m, rng.randrange(1, 100_000) / 100)

    def next_file(self) -> bytes:
        """Parquet bytes of the next file (and remember its events)."""
        rng, k, n = self.rng, self.k, self.events_per_file
        base = self.ORIGIN_US + k * self.FILE_SPAN_US
        rows = [self._event(base, base + self.FILE_SPAN_US) for _ in range(n - n // 20 - n // 33)]
        rows += [self._event(base - self.FILE_SPAN_US * 3, base) for _ in range(n // 20)]
        pool = self.recent + rows
        rows += [pool[rng.randrange(len(pool))] for _ in range(n // 33)]
        rng.shuffle(rows)
        self.recent = rows
        self.events.extend(rows)
        self.k += 1
        return self._encode(rows)

    def sentinel_file(self) -> bytes:
        """One event a day past everything, so the watermark passes every
        real window and session and append-mode outputs are final."""
        t = self.ORIGIN_US + (self.k + 1) * self.FILE_SPAN_US + DAY * 1_000_000
        return self._encode([(t, self.SENTINEL_USER, "__flush__", 0.0)])

    @staticmethod
    def _encode(rows) -> bytes:
        t = pa.table({
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "metric": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
        }, schema=EVENT_SCHEMA)
        buf = io.BytesIO()
        pq.write_table(t, buf, compression="snappy")
        return buf.getvalue()
