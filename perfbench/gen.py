"""Seeded input generator for the benchmark.

Every input the program under test sees is written here, from the run's
``--seed`` alone, into the run's scratch directory. The tables follow the
logical schemas of ``schemas.TESTDATA_DDL`` and the value domains of the
synthetic star-schema test data (uniform keys, two-decimal money, day-grain
dates), so the registry's TPC-H-analogue plans and their DuckDB oracles
select non-empty results.
"""

from __future__ import annotations

import os
import re
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark line small fast group customer part column order scan a slow agg "
    "key window table merge vector join query row stream the batch sort "
    "value hash filter big data dup"
).split()
COLORS = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
NOUNS = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def days(rng, n: int, first: tuple, last: tuple) -> np.ndarray:
    """``n`` uniform day-grain instants (µs since the epoch) in
    [first, last], each a (year, month, day)."""
    lo, hi = _epoch_us(*first), _epoch_us(*last)
    offsets = rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n)
    return lo + offsets * _US_PER_DAY


def money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    """``n`` uniform two-decimal amounts in [lo, hi]."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def pick(rng, values: list[str], n: int) -> pa.Array:
    """``n`` uniform draws from ``values``."""
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def ts(values: np.ndarray) -> pa.Array:
    """µs-since-epoch integers as a timezone-less timestamp column, the
    physical type of the test data's timestamps."""
    return pa.array(values.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def write_star_schema(out_dir: str, seed: int, lineitem_rows: int) -> dict[str, int]:
    """The eight TPC-H-analogue tables at a size set by the fact-table row
    count (orders = lineitem / 4, the other tables in the test data's
    ratios). Returns rows per table."""
    rng = np.random.default_rng(seed)
    n_li = lineitem_rows
    n_ord = max(n_li // 4, 1)
    n_cust = max(n_li // 40, 10)
    n_part = max(n_li // 30, 10)
    n_supp = max(n_li // 600, 10)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    np.char.add(
                        np.char.add(
                            np.asarray(COLORS)[rng.integers(0, 8, n_part)], " "
                        ),
                        np.asarray(NOUNS)[rng.integers(0, 8, n_part)],
                    ).astype(object)
                ),
                "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": ts(days(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
                "o_orderpriority": pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(rng, n_li, 900.0, 105000.0),
                "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
                "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": pick(rng, ["F", "O"], n_li),
                "l_shipdate": ts(days(rng, n_li, (1995, 1, 2), (2001, 11, 4))),
            }
        ),
    }
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def events_table(seed: int, rows: int) -> pa.Table:
    """Event stream rows over 30 days, ordered by event time."""
    rng = np.random.default_rng(seed)
    start = _epoch_us(2024, 1, 1)
    stamps = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, rows))
    return pa.table(
        {
            "event_id": pa.array(np.arange(rows), pa.int64()),
            "ts": ts(stamps),
            "user_id": pa.array(rng.integers(0, 1500, rows), pa.int64()),
            "event_type": pick(rng, EVENT_TYPES, rows),
            "value": np.round(rng.exponential(50.0, rows), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]
            ),
        }
    )


def write_landing_files(out_dir: str, seed: int, rows: int, n_files: int) -> pa.Table:
    """Cut the event stream into ``n_files`` time-ordered landing files
    (``part-00000.parquet`` ...), one per micro-batch. Returns all rows."""
    table = events_table(seed, rows)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        _write(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return table


def _doc_text(rng, n_tokens: int) -> list[str]:
    return list(np.asarray(WORDS)[rng.integers(0, len(WORDS), n_tokens)])


def _perturb(rng, tokens: list[str], n_edits: int) -> list[str]:
    out = list(tokens)
    for pos in rng.choice(len(out), size=min(n_edits, len(out)), replace=False):
        out[pos] = WORDS[rng.integers(0, len(WORDS))]
    return out


def documents(seed: int, n_docs: int, near_dup_share: float, exact_dup_share: float):
    """Documents in the test data's shape (30-word vocabulary, 20-100
    tokens). ``near_dup_share`` of the rows are token-edited copies of an
    independent document (2 to 4 edits) and ``exact_dup_share`` are verbatim
    copies; the rest are independent. Rows are shuffled so copies do not
    sit next to their originals. Returns a pyarrow table."""
    rng = np.random.default_rng(seed)
    n_near = int(n_docs * near_dup_share)
    n_exact = int(n_docs * exact_dup_share)
    n_base = n_docs - n_near - n_exact
    texts = [" ".join(_doc_text(rng, int(rng.integers(20, 101)))) for _ in range(n_base)]
    for _ in range(n_near):
        src = texts[int(rng.integers(0, n_base))].split(" ")
        texts.append(" ".join(_perturb(rng, src, int(rng.integers(2, 5)))))
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(0, n_base))])
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": pick(rng, LANGS, n_docs),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n_vecs: int, dim: int = 64, n_labels: int = 64):
    """Weakly clustered unit float32 embeddings: ``n_labels`` Gaussian
    centres, each vector a centre plus noise 1.5 times the centre scale,
    so an IVF index with 16 cells and 4 probes misses some neighbours.
    Returns (table, matrix)."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(0.0, 1.0, (n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    mat = centres[labels] + rng.normal(0.0, 1.5, (n_vecs, dim))
    mat = (mat / np.linalg.norm(mat, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(mat), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return table, mat


def normalize(text: str) -> str:
    """The normalization of ``functions.text.normalize_text``."""
    return re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", text.lower())).strip()


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    """Word n-gram set of the normalized text, with the tail rule of
    ``functions.text.token_shingle_hashes``."""
    toks = normalize(text).split(" ")
    if len(toks) < n:
        return {tuple(toks)}
    return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def key_stream(seed: int, rounds: int, live_keys: int, first_new_key: int,
               append_rows: int, merge_keys: int, delete_keys: int):
    """Per-round key draws for the versioned-table lifecycle. Even rounds
    draw merge/delete/point-read keys uniformly from the initial key
    space; odd rounds draw them from the most recent append (the
    recent-favoured stream). Keys are candidates: the caller drops any
    already deleted. Yields one dict per round."""
    rng = np.random.default_rng(seed)
    next_key = first_new_key
    for r in range(rounds):
        appended = np.arange(next_key, next_key + append_rows)
        next_key += append_rows
        pool = appended if r % 2 else np.arange(live_keys)
        picks = rng.choice(pool, size=merge_keys + delete_keys + 10, replace=False)
        yield {
            "round": r,
            "append_keys": appended,
            "merge_keys": picks[:merge_keys],
            "merge_new_keys": np.arange(next_key, next_key + merge_keys // 4),
            "delete_keys": picks[merge_keys : merge_keys + delete_keys],
            "point_keys": picks[merge_keys + delete_keys :],
            "row_seed": int(rng.integers(0, 2**31)),
        }
        next_key += merge_keys // 4
