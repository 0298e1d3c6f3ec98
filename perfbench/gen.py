"""Seeded input generators for the three workloads.

Everything the program under test receives is made here from the run's
``--seed``: the same seed gives byte-identical inputs.

- :func:`writer_stream` — the open-loop write sequence for the writer
  chain: each write is one of the two write sizes the repository documents
  (:data:`WRITE_SIZES`), payloads sliced from one seeded byte pool.
- :func:`intake_waves` — documents for ``run_intake`` with fixed shares of
  fresh, exact-replay, near-duplicate and gated-out documents, drawn from a
  generated vocabulary far larger than the fixture's 31 words, so accidental
  MinHash band collisions do not set the admission rate.
- :func:`write_tables` — the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` tables the query registry reads, with the
  column names and parquet types of the sf0.01 fixtures.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np

POOL_BYTES = 8 * 1024 * 1024


# --------------------------------------------------------------------------
# writer: byte stream and write-size mix
# --------------------------------------------------------------------------

# The two write sizes the repository documents: the reference bench's
# 1024-byte records (SURVEY.md, bench/main.go:24-29) and the CLI's 32 KiB
# stdin reads (kinesis_spark/__main__.py). Each write picks one with equal
# probability; that share is an assumption, not measured traffic.
WRITE_SIZES = (1024, 32 * 1024)


@dataclass
class WriterStream:
    """A seeded write sequence: ``sizes[i]`` bytes taken from ``pool`` at
    ``offsets[i]``. ``ends[i]`` is the stream offset just past write i."""

    pool: bytes
    offsets: np.ndarray
    sizes: np.ndarray
    ends: np.ndarray = field(init=False)

    def __post_init__(self) -> None:
        self.ends = np.cumsum(self.sizes, dtype=np.int64)

    def payload(self, i: int) -> memoryview:
        o = int(self.offsets[i])
        return memoryview(self.pool)[o : o + int(self.sizes[i])]

    def digest(self, n_writes: int) -> str:
        """sha256 of the concatenated payloads of the first ``n_writes``."""
        h = hashlib.sha256()
        for i in range(n_writes):
            h.update(self.payload(i))
        return h.hexdigest()


def writer_stream(seed: int, n_bytes: int) -> WriterStream:
    """Writes totalling at least ``n_bytes``, each of a size drawn from
    :data:`WRITE_SIZES`."""
    rng = np.random.default_rng([seed, 1])
    pool = rng.bytes(POOL_BYTES)
    n = int(n_bytes / np.mean(WRITE_SIZES) * 1.2) + 16
    sizes = rng.choice(np.array(WRITE_SIZES, dtype=np.int64), size=n)
    n = int(np.searchsorted(np.cumsum(sizes), n_bytes)) + 1
    sizes = sizes[:n]
    offsets = rng.integers(0, POOL_BYTES - sizes + 1, dtype=np.int64)
    return WriterStream(pool, offsets, sizes)


# --------------------------------------------------------------------------
# intake: documents with fixed category shares
# --------------------------------------------------------------------------

KEEP_LANGS = ("en", "de", "fr", "es")  # kinesis_spark.queries.pipelines._KEEP_LANGS
MIN_TOKENS = 10  # kinesis_spark.queries.pipelines._MIN_TOKENS
N_PARTITION_KEYS = 8
CATEGORIES = ("fresh", "replay", "near_dup", "gated")
# Category shares are assumptions, not measured traffic: the backlog is
# mostly fresh, and the waves give each rejection path an equal share.
BACKLOG_SHARES = {"fresh": 0.8, "replay": 0.0, "near_dup": 0.1, "gated": 0.1}
WAVE_SHARES = {"fresh": 0.55, "replay": 0.15, "near_dup": 0.15, "gated": 0.15}
VOCAB = 20_000


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """``VOCAB`` distinct lowercase words of 3 to 9 letters."""
    lengths = rng.integers(3, 10, 2 * VOCAB)
    letters = rng.integers(0, 26, (2 * VOCAB, 9)).astype(np.uint8) + ord("a")
    words = {row[:n].tobytes().decode() for row, n in zip(letters, lengths)}
    return sorted(words)[:VOCAB]


@dataclass
class IntakeInput:
    """``waves[0]`` is the backlog, ``waves[1:]`` the incremental waves.
    Each row is ``{doc_id, text, lang, source}``; ``category`` maps every
    doc_id to the category it was generated as."""

    waves: list[list[dict]]
    category: dict[int, str]

    def shares(self) -> dict[str, dict[str, float]]:
        """Measured category share of the records in each wave kind."""
        out = {}
        for kind, rows in (
            ("backlog", self.waves[0]),
            ("waves", [r for w in self.waves[1:] for r in w]),
        ):
            n = max(len(rows), 1)
            out[kind] = {
                c: round(sum(self._cat(r) == c for r in rows) / n, 4)
                for c in CATEGORIES
            }
        return out

    def _cat(self, row: dict) -> str:
        # a replayed record keeps its doc_id and content
        return "replay" if row.get("_replay") else self.category[row["doc_id"]]


def partition_key(doc_id: int) -> str:
    return f"pk{doc_id % N_PARTITION_KEYS}"


def record_bytes(row: dict) -> bytes:
    return json.dumps(
        {k: row[k] for k in ("doc_id", "text", "lang", "source")}, sort_keys=True
    ).encode()


def intake_waves(
    seed: int, backlog_docs: int, n_waves: int, wave_docs: int
) -> IntakeInput:
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng)
    category: dict[int, str] = {}
    fresh_rows: list[dict] = []  # near-dup and replay sources
    delivered: list[dict] = []
    next_id = 0

    def text(n_tokens: int) -> str:
        return " ".join(vocab[i] for i in rng.integers(0, VOCAB, n_tokens))

    def make(cat: str) -> dict:
        nonlocal next_id
        if cat == "replay":
            src = delivered[int(rng.integers(0, len(delivered)))]
            return dict(src, _replay=True)
        doc_id = next_id
        next_id += 1
        category[doc_id] = cat
        source = f"src{int(rng.integers(0, 8))}"
        if cat == "fresh":
            row = {
                "doc_id": doc_id,
                "text": text(int(rng.integers(20, 61))),
                "lang": KEEP_LANGS[int(rng.integers(0, len(KEEP_LANGS)))],
                "source": source,
            }
            fresh_rows.append(row)
            return row
        if cat == "near_dup":
            src = fresh_rows[int(rng.integers(0, len(fresh_rows)))]
            toks = src["text"].split(" ")
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, VOCAB))]
            return dict(src, doc_id=doc_id, text=" ".join(toks))
        # gated: a language outside the gate, or too short to pass it
        if rng.random() < 0.5:
            return {"doc_id": doc_id, "text": text(int(rng.integers(20, 61))),
                    "lang": "zh", "source": source}
        return {"doc_id": doc_id, "text": text(int(rng.integers(3, MIN_TOKENS))),
                "lang": KEEP_LANGS[0], "source": source}

    def wave(n: int, shares: dict[str, float]) -> list[dict]:
        counts = {c: int(round(n * s)) for c, s in shares.items()}
        counts["fresh"] += n - sum(counts.values())
        cats = [c for c, k in counts.items() for _ in range(k)]
        rng.shuffle(cats)
        if not fresh_rows:
            # open with a fresh document, so near-dups have a source
            i = cats.index("fresh")
            cats[0], cats[i] = cats[i], cats[0]
        rows = [make(c) for c in cats]
        delivered.extend(r for r in rows if not r.get("_replay"))
        return rows

    waves = [wave(backlog_docs, BACKLOG_SHARES)]
    waves += [wave(wave_docs, WAVE_SHARES) for _ in range(n_waves)]
    return IntakeInput(waves, category)


# --------------------------------------------------------------------------
# query_mix: the registry's tables
# --------------------------------------------------------------------------

FIXTURE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: float) -> dict[str, dict]:
    """Column dicts per table. ``scale=1`` matches the sf0.01 fixture's
    row counts (60k lineitem rows, 500 documents)."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp = int(1500 * scale), int(100 * scale)
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    n_ev, n_doc, n_emb = int(10000 * scale), int(500 * scale), int(500 * scale)
    out: dict[str, dict] = {}
    out["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}
    out["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    out["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    out["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }
    out["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }
    out["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    out["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    }
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    out["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(int(150 * scale), 10), n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0.01, 490.0),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for _ in range(n_doc):
        # 5% exact and 5% near duplicates of earlier documents keep the
        # dedup queries' duplicate paths busy
        r = rng.random()
        if texts and r < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.10:
            toks = texts[int(rng.integers(0, len(texts)))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = FIXTURE_WORDS[int(rng.integers(0, 31))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(FIXTURE_WORDS[i] for i in rng.integers(0, 31, n)))
    out["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [DOC_LANGS[i] for i in rng.integers(0, len(DOC_LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vec = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec),
        "label": labels.astype(np.int32),
    }
    return out


def write_tables(seed: int, scale: float, out_dir: str) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the
    bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, cols in tables(seed, scale).items():
        arrays = {}
        for col, values in cols.items():
            if col == "embedding":
                arrays[col] = pa.array(values, type=pa.list_(pa.float32()))
            elif isinstance(values, np.ndarray) and values.dtype.kind == "M":
                arrays[col] = pa.array(values, type=pa.timestamp("us"))
            else:
                arrays[col] = pa.array(values)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(arrays), path)
        total += os.path.getsize(path)
    return total
