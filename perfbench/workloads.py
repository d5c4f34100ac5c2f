"""The four benchmark workloads. Each drives the package only through its
public functions, checks every operation's output against a model built
outside Spark, and reports per-layer numbers for the traced run.

A workload has three phases: ``generate`` writes its seeded inputs
before Spark starts, ``setup`` builds the reference results, and
``run_pass`` runs one pass of operations through a ``Recorder``. A run
measures a fixed number of passes; ``finish`` runs the closing
operations and the final checks.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# TPC-H-analogue plans of the olap_tpch workload.
TPCH_PLANS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_orders",
    "q21_sole_blamed_supplier",
)

# Input sizes. Chosen so one pass of each workload takes a few seconds on
# local[3]: the benchmark's budget is 4 + 22 x (workloads) runs in under
# an hour, so a run cannot afford passes over the full sf0.1 data.
OLAP_LINEITEM_ROWS = 120_000
LLM_DOCS = 3_000
LLM_NEAR_DUP_SHARE = 0.10
LLM_EXACT_DUP_SHARE = 0.02
LLM_VECS = 2_000
LLM_QUERIES = 16
LLM_TOPK = 10
MUT_BASE_ROWS = 30_000
MUT_APPEND_ROWS = 1_000
MUT_MERGE_KEYS = 200
MUT_DELETE_KEYS = 50
MUT_MAX_ROUNDS = 64
STREAM_ROWS = 20_000
STREAM_FILES = 8

# Recall floors for the approximate operators (measured well above these
# on every seed; a drop below means a broken operator, not bad luck).
LSH_RECALL_FLOOR = 0.6
IVF_RECALL_FLOOR = 0.6


class WrongResult(Exception):
    """An operation returned a result that differs from the model."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise WrongResult(what)


class Recorder:
    """Times operations, checks their outputs and counts failures. A
    failed or wrong operation is counted and the run carries on. Time
    spent checking is kept apart, so throughput counts only the program's
    work."""

    def __init__(self):
        self.samples = {"query": [], "commit": []}
        self.by_name: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rows = 0
        self.timing = False
        self.check_s = 0.0
        self._pending: list = []

    def _fail(self, name: str, e: Exception) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:240]}")

    def op(self, kind: str | None, name: str, rows: int, fn, check=None,
           defer: bool = False):
        """Run ``fn``, then ``check`` on its result (later, at
        ``run_checks``, when ``defer``). ``kind`` is the latency class
        ("query" or "commit"), or None for an operation whose latency is
        sampled per micro-batch instead. Returns None on failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - one operation's failure must not end the run
            self._fail(name, e)
            return None
        dt = time.perf_counter() - t0
        if check is not None:
            self._pending.append((name, check, out))
            if not defer and not self.run_checks():
                return None
        if self.timing and kind is not None:
            self.samples[kind].append(dt)
            self.by_name.setdefault(name, []).append(dt)
            self.rows += rows
        return out

    def run_checks(self) -> bool:
        """Run the pending checks; False if any failed."""
        t0 = time.perf_counter()
        ok = True
        for name, check, out in self._pending:
            try:
                check(out)
            except Exception as e:  # noqa: BLE001 - a failed check is a failed operation
                self._fail(name, e)
                ok = False
        self._pending.clear()
        if self.timing:
            self.check_s += time.perf_counter() - t0
        return ok

    def sample(self, kind: str, name: str, seconds: float, rows: int) -> None:
        """Record a latency measured elsewhere (a streaming micro-batch)."""
        if self.timing:
            self.samples[kind].append(seconds)
            self.by_name.setdefault(name, []).append(seconds)
            self.rows += rows


def _canon_hash(rows) -> str:
    """Order-insensitive fingerprint of result rows (columns in a fixed
    order, floats exact)."""
    canon = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Workload:
    name = ""
    # Nominal seconds of one warm pass on local[3] of a 4-vCPU machine;
    # a run measures round(--seconds / PASS_S) passes.
    PASS_S = 1.0
    # Untimed passes before measuring. The first pass on a cold JVM takes
    # 2-3 warm passes' time and later passes keep speeding up for many
    # more; a run affords one or two, and a fixed count keeps runs alike
    # (a warm-up that stopped when pass times settled ran 2 or 3 rounds
    # of table_mutation, and the third moved its median read by 15 %).
    WARMUP_PASSES = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.tracer = None

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark, tracer) -> None:
        """One-time set-up on the first session, then ``bind``."""
        self.bind(spark, tracer)

    def bind(self, spark, tracer) -> None:
        """Attach to a (new) session and zero the per-layer counters."""
        self.spark = spark
        self.tracer = tracer

    def run_pass(self, rec: Recorder) -> None:
        raise NotImplementedError

    def finish(self, rec: Recorder) -> None:
        pass

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def byte_ratios(self) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
class OlapTpch(Workload):
    """The eight TPC-H-analogue plans on a seeded star schema, in a seeded
    order per pass; each result hash-matched against its DuckDB oracle."""

    name = "olap_tpch"
    PASS_S = 4.2

    def generate(self):
        self.data = os.path.join(self.work, "tables")
        self.table_rows = gen.write_star_schema(self.data, self.seed, OLAP_LINEITEM_ROWS)

    def setup(self, spark, tracer):
        import duckdb

        from pucminas_data_pipelines_spark.plans import ORACLES

        con = duckdb.connect()
        for t in self.table_rows:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.expected = {}
        self.input_rows = {}
        for name in TPCH_PLANS:
            rel = con.sql(ORACLES[name])
            cols = [c.lower() for c in rel.columns]
            order = sorted(range(len(cols)), key=cols.__getitem__)
            rows = rel.fetchall()
            self.expected[name] = (sorted(cols), len(rows),
                                   _canon_hash([tuple(r[i] for i in order) for r in rows]))
            self.input_rows[name] = sum(
                n for t, n in self.table_rows.items()
                if re.search(rf"\b{t}\b", ORACLES[name])
            )
        con.close()
        self.bind(spark, tracer)

    def bind(self, spark, tracer):
        super().bind(spark, tracer)
        self.build_s = 0.0
        self.action_s = 0.0
        self.output_rows = 0
        self.load_calls = 0
        self.load_s = 0.0
        if tracer.enabled:
            self._count_loads()

    def _check(self, name):
        cols, n, digest = self.expected[name]

        def check(out):
            got_cols, rows = out
            lower = [c.lower() for c in got_cols]
            _require(sorted(lower) == cols, f"columns {got_cols}")
            _require(len(rows) == n, f"{len(rows)} rows, oracle has {n}")
            order = sorted(range(len(lower)), key=lower.__getitem__)
            _require(
                _canon_hash([tuple(r[i] for i in order) for r in rows]) == digest,
                "values differ from the DuckDB oracle",
            )

        return check

    def _run(self, name):
        from pucminas_data_pipelines_spark.plans import QUERIES

        t0 = time.perf_counter()
        with self.tracer.span("plans", f"plans.build:{name}"):
            df = QUERIES[name](self.spark, self.data)
        t1 = time.perf_counter()
        with self.tracer.span("plans", f"plans.action:{name}"):
            rows = df.collect()
        t2 = time.perf_counter()
        self.build_s += t1 - t0
        self.action_s += t2 - t1
        self.output_rows += len(rows)
        return df.columns, rows

    def run_pass(self, rec):
        for i in self.rng.permutation(len(TPCH_PLANS)):
            name = TPCH_PLANS[i]
            rec.op("query", name, self.input_rows[name],
                   lambda n=name: self._run(n), self._check(name))

    def _count_loads(self):
        """Wrap ``tables.load_table`` where the plan modules bound it, so
        the traced run counts and times the table layer's calls. The
        wrapper stays for the rest of the process; it reads the current
        tracer, so later untraced phases record no spans."""
        import sys

        from pucminas_data_pipelines_spark import tables

        original = tables.load_table

        def load_table(spark, sf_dir, name):
            t0 = time.perf_counter()
            with self.tracer.span("tables", f"tables.load_table:{name}"):
                df = original(spark, sf_dir, name)
            self.load_calls += 1
            self.load_s += time.perf_counter() - t0
            return df

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("pucminas_data_pipelines_spark.plans")
                    and getattr(mod, "load_table", None) is original):
                mod.load_table = load_table

    def layer_metrics(self):
        return {
            "tables.load_table_calls": self.load_calls,
            "tables.load_table_s": self.load_s,
            "plans.build_s": self.build_s,
            "plans.action_s": self.action_s,
            "_output_rows": self.output_rows,
        }


# --------------------------------------------------------------------------
class LlmCuration(Workload):
    """A curation pipeline over seeded documents and embeddings: exact
    dedup, MinHash-LSH pairs, clusters, the prefix-filter exact reference,
    and brute-force against IVF top-k on a seeded query sample."""

    name = "llm_curation"
    PASS_S = 8.5
    STAGES = ("exact", "lsh_pairs", "clusters", "prefix_pairs", "brute_topk", "ivf_topk")

    def generate(self):
        d = os.path.join(self.work, "llm")
        os.makedirs(d, exist_ok=True)
        docs = gen.documents(self.seed, LLM_DOCS, LLM_NEAR_DUP_SHARE, LLM_EXACT_DUP_SHARE)
        pq.write_table(docs, os.path.join(d, "documents.parquet"))
        emb, self.mat = gen.embeddings(self.seed + 1, LLM_VECS)
        pq.write_table(emb, os.path.join(d, "embeddings.parquet"))
        self.dir = d
        self.texts = docs.column("text").to_pylist()
        self.query_ids = sorted(
            int(i) for i in np.random.default_rng(self.seed + 2).choice(
                LLM_VECS, LLM_QUERIES, replace=False)
        )
        self._expected()

    def _expected(self):
        # exact duplicates: groups of identical normalized text
        groups: dict[str, list[int]] = {}
        for i, t in enumerate(self.texts):
            groups.setdefault(gen.normalize(t), []).append(i)
        self.exact_groups = sorted((min(g), len(g)) for g in groups.values() if len(g) > 1)
        # near-duplicate truth: every pair with shingle Jaccard >= 0.5.
        # Shingles are sets, so counting co-occurrences over an inverted
        # index gives each pair's exact intersection size.
        self.sh = [gen.shingles(t) for t in self.texts]
        index: dict[tuple, list[int]] = {}
        for i, s in enumerate(self.sh):
            for g in s:
                index.setdefault(g, []).append(i)
        shared: dict[tuple[int, int], int] = {}
        for ids in index.values():
            for a in range(len(ids)):
                for b in range(a + 1, len(ids)):
                    shared[ids[a], ids[b]] = shared.get((ids[a], ids[b]), 0) + 1
        self.truth = {
            (a, b) for (a, b), c in shared.items()
            if c / (len(self.sh[a]) + len(self.sh[b]) - c) >= 0.5
        }
        # exact cosine top-k for the query sample
        sims = self.mat[self.query_ids].astype(np.float64) @ self.mat.T.astype(np.float64)
        self.brute_expected = {}
        for qi, q in enumerate(self.query_ids):
            s = np.round(sims[qi], 6)
            s[q] = -np.inf
            order = np.lexsort((np.arange(len(s)), -s))[:LLM_TOPK]
            self.brute_expected[q] = (set(int(i) for i in order), float(s[order[-1]]), s)

    def _jaccard(self, a, b):
        sa, sb = self.sh[a], self.sh[b]
        return len(sa & sb) / len(sa | sb)

    def bind(self, spark, tracer):
        super().bind(spark, tracer)
        from pucminas_data_pipelines_spark.pipelines import Pipeline
        from pucminas_data_pipelines_spark.tables import load_table
        from pyspark.sql import functions as F

        self.docs = load_table(spark, self.dir, "documents")
        self.emb = load_table(spark, self.dir, "embeddings")
        self.queries = self.emb.where(F.col("vec_id").isin(self.query_ids))
        self.stage_s = {s: 0.0 for s in self.STAGES}
        self.op_s = {s: 0.0 for s in self.STAGES}
        self.candidate_pairs = 0
        self.lsh_recall = []
        self.ivf_recall = []
        self.pipeline = Pipeline("curation")
        for stage in self.STAGES:
            self.pipeline.stage(stage)(getattr(self, f"_stage_{stage}"))

    # Each stage runs its operator through the recorder; a failed stage
    # returns None and the stages that consume it fail in turn.
    def _timed(self, layer, stage, fn):
        t0 = time.perf_counter()
        with self.tracer.span(layer, f"{layer}.{stage}"):
            out = fn()
        self.op_s[stage] += time.perf_counter() - t0
        return out

    def _stage_exact(self, spark, ctx):
        from pucminas_data_pipelines_spark.operators import dedup

        def run():
            df = dedup.exact_duplicates(self.docs, "doc_id", "text")
            return df.where("n_copies > 1").select("representative_id", "n_copies").collect()

        def check(rows):
            _require(sorted((r[0], r[1]) for r in rows) == self.exact_groups,
                     "exact duplicate groups differ from the model")

        return self.rec.op("query", "exact", LLM_DOCS,
                           lambda: self._timed("dedup", "exact", run), check, defer=True)

    def _stage_lsh_pairs(self, spark, ctx):
        from pucminas_data_pipelines_spark.operators import dedup

        def run():
            df = dedup.minhash_lsh_pairs(self.docs, "doc_id", "text")
            return df, [(r[0], r[1], r[2]) for r in df.collect()]

        def check(out):
            pairs = {(a, b) for a, b, _ in out[1]}
            _require(all(0.5 <= e <= 1.0 and a < b for a, b, e in out[1]),
                     "LSH pair outside the threshold or unordered")
            recall = len(pairs & self.truth) / max(len(self.truth), 1)
            self.lsh_recall.append(recall)
            _require(recall >= LSH_RECALL_FLOOR, f"LSH recall {recall:.3f}")

        return self.rec.op("query", "lsh_pairs", LLM_DOCS,
                           lambda: self._timed("dedup", "lsh_pairs", run), check, defer=True)

    def _stage_clusters(self, spark, ctx):
        from pucminas_data_pipelines_spark.operators import dedup

        lsh = ctx.get("lsh_pairs")

        def run():
            if lsh is None:
                raise WrongResult("no LSH pairs to cluster")
            return dedup.dedup_clusters(lsh[0]).collect()

        def check(rows):
            parent: dict[int, int] = {}

            def find(x):
                while parent.setdefault(x, x) != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b, _ in lsh[1]:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
            want = sorted((m, find(m)) for m in parent)
            _require(sorted((r["member_id"], r["cluster_rep"]) for r in rows) == want,
                     "clusters differ from union-find over the LSH pairs")

        n_pairs = len(lsh[1]) if lsh else 0
        return self.rec.op("query", "clusters", n_pairs,
                           lambda: self._timed("dedup", "clusters", run), check, defer=True)

    def _stage_prefix_pairs(self, spark, ctx):
        from pucminas_data_pipelines_spark.operators import dedup

        def run():
            return [(r[0], r[1]) for r in
                    dedup.prefix_filter_pairs(self.docs, "doc_id", "text").collect()]

        def check(pairs):
            self.candidate_pairs = len(pairs)
            verified = {p for p in pairs if self._jaccard(*p) >= 0.5}
            _require(verified == self.truth,
                     f"prefix filter found {len(verified)} of {len(self.truth)} true pairs")

        return self.rec.op("query", "prefix_pairs", LLM_DOCS,
                           lambda: self._timed("dedup", "prefix_pairs", run), check, defer=True)

    def _topk_rows(self, df):
        out: dict[int, list] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
        return out

    def _stage_brute_topk(self, spark, ctx):
        from pucminas_data_pipelines_spark.operators import similarity

        def run():
            return self._topk_rows(similarity.brute_force_topk(
                self.queries, self.emb, "vec_id", "vec_id", "embedding", k=LLM_TOPK))

        def check(got):
            _require(sorted(got) == self.query_ids, "missing queries")
            for q, (ids, kth, sims) in self.brute_expected.items():
                for n, cos in got[q]:
                    # a neighbour outside the model's set is a tie at the
                    # k-th score, never a worse vector
                    _require(n in ids or abs(sims[n] - kth) <= 2e-6,
                             f"query {q}: neighbour {n} not in the exact top-{LLM_TOPK}")
                    _require(abs(cos - sims[n]) <= 2e-6, f"query {q}: cosine {cos}")

        return self.rec.op("query", "brute_topk", LLM_VECS,
                           lambda: self._timed("similarity", "brute_topk", run), check, defer=True)

    def _stage_ivf_topk(self, spark, ctx):
        from pucminas_data_pipelines_spark.operators import similarity

        def run():
            return self._topk_rows(similarity.ivf_topk(
                self.queries, self.emb, "vec_id", "vec_id", "embedding",
                k=LLM_TOPK, n_cells=16, n_probe=4))

        def check(got):
            hit = sum(len({n for n, _ in got.get(q, [])} & ids)
                      for q, (ids, _, _) in self.brute_expected.items())
            recall = hit / (LLM_TOPK * len(self.query_ids))
            self.ivf_recall.append(recall)
            _require(recall >= IVF_RECALL_FLOOR, f"IVF recall@{LLM_TOPK} {recall:.3f}")

        return self.rec.op("query", "ivf_topk", LLM_VECS,
                           lambda: self._timed("similarity", "ivf_topk", run), check, defer=True)

    def run_pass(self, rec):
        self.rec = rec
        with self.tracer.span("pipelines", "pipelines.run"):
            done = self.pipeline.run(self.spark)
        for stage, res in done.items():
            self.stage_s[stage] += res.seconds
        rec.run_checks()

    def layer_metrics(self):
        m = {f"pipelines.{s}_s": v for s, v in self.stage_s.items()}
        m.update({
            "dedup.exact_s": self.op_s["exact"],
            "dedup.lsh_pairs_s": self.op_s["lsh_pairs"],
            "dedup.clusters_s": self.op_s["clusters"],
            "dedup.prefix_pairs_s": self.op_s["prefix_pairs"],
            "dedup.candidate_pairs": self.candidate_pairs,
            "dedup.lsh_recall": statistics.mean(self.lsh_recall) if self.lsh_recall else 0.0,
            "similarity.brute_topk_s": self.op_s["brute_topk"],
            "similarity.ivf_topk_s": self.op_s["ivf_topk"],
            "similarity.ivf_recall_at_k": statistics.mean(self.ivf_recall) if self.ivf_recall else 0.0,
        })
        return m


# --------------------------------------------------------------------------
def _table_bytes(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under a table root."""
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


ORDERS_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")


class TableMutation(Workload):
    """The versioned-table lifecycle on ``ManifestVersionedTable`` keyed on
    ``o_orderkey``: overwrite, then rounds of append / merge / delete /
    full read / point read / time travel, then optimize and vacuum. A
    model of the seeded commit stream (the live rows, and a digest of every
    version) checks every commit and read."""

    name = "table_mutation"
    PASS_S = 2.7
    WARMUP_PASSES = 2

    def generate(self):
        d = os.path.join(self.work, "mutation")
        os.makedirs(d, exist_ok=True)
        rng = np.random.default_rng(self.seed)
        self.base_path = os.path.join(d, "base.parquet")
        base = self._orders(rng, np.arange(MUT_BASE_ROWS))
        pq.write_table(base, self.base_path)
        self.user_bytes = os.path.getsize(self.base_path)
        self.rounds = []
        deleted: set[int] = set()
        for r in gen.key_stream(self.seed, MUT_MAX_ROUNDS, MUT_BASE_ROWS, MUT_BASE_ROWS,
                                MUT_APPEND_ROWS, MUT_MERGE_KEYS, MUT_DELETE_KEYS):
            rr = np.random.default_rng(r["row_seed"])
            app = os.path.join(d, f"append-{r['round']}.parquet")
            pq.write_table(self._orders(rr, r["append_keys"]), app)
            mrg = os.path.join(d, f"merge-{r['round']}.parquet")
            pq.write_table(self._orders(rr, np.concatenate(
                [r["merge_keys"], r["merge_new_keys"]])), mrg)
            dele = [int(k) for k in r["delete_keys"] if int(k) not in deleted]
            deleted.update(dele)
            self.rounds.append({
                "append": app, "merge": mrg, "delete": dele,
                "point": [int(k) for k in r["point_keys"]],
            })
        self.table_path = os.path.join(d, "table")

    @staticmethod
    def _orders(rng, keys) -> pa.Table:
        n = len(keys)
        return pa.table({
            "o_orderkey": pa.array(np.asarray(keys, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
            "o_orderstatus": gen.pick(rng, ["F", "O", "P"], n),
            "o_totalprice": gen.money(rng, n, 1000.0, 500000.0),
            "o_orderdate": gen.ts(gen.days(rng, n, (1995, 1, 1), (2001, 8, 1))),
            "o_orderpriority": gen.pick(rng, gen.PRIORITIES, n),
        })

    # -- the model: live rows as {key: (custkey, status, cents, date_us,
    #    priority)}, and a digest of every committed version
    @staticmethod
    def _rows(table: pa.Table) -> dict[int, tuple]:
        cols = table.to_pydict()
        cents = [round(p * 100) for p in cols["o_totalprice"]]
        dates = table.column("o_orderdate").cast(pa.int64()).to_pylist()
        return {k: (c, s, p, dt, pr) for k, c, s, p, dt, pr in zip(
            cols["o_orderkey"], cols["o_custkey"], cols["o_orderstatus"],
            cents, dates, cols["o_orderpriority"])}

    def _digest(self) -> tuple:
        m = self.model
        return (len(m), sum(m), sum(v[0] for v in m.values()),
                sum(v[2] for v in m.values()))

    def setup(self, spark, tracer):
        from pucminas_data_pipelines_spark.operators.upsert import ManifestVersionedTable

        self.table = ManifestVersionedTable(spark, self.table_path, key="o_orderkey")
        self.model = self._rows(pq.read_table(self.base_path))
        self.version_digest = {}
        self.next_round = 0
        version = self.table.overwrite(spark.read.parquet(self.base_path))
        self.version_digest[version] = self._digest()
        self.bind(spark, tracer)

    def bind(self, spark, tracer):
        super().bind(spark, tracer)
        self.table.spark = spark
        self.op_s: dict[str, float] = {}
        self.max_dirs_per_bucket = 0
        self.point_reads = 0

    def _timed(self, op, fn):
        t0 = time.perf_counter()
        with self.tracer.span("upsert", f"upsert.{op}"):
            out = fn()
        self.op_s[op] = self.op_s.get(op, 0.0) + time.perf_counter() - t0
        return out

    def _commit(self, rec, op, rows, fn, apply):
        def run():
            return self._timed(op, fn)

        def check(version):
            _require(version == max(self.version_digest) + 1, f"{op} committed v{version}")
            apply()
            self.version_digest[version] = self._digest()

        rec.op("commit", op, rows, run, check)

    def _agg(self, df):
        from pyspark.sql import functions as F

        r = df.agg(
            F.count(F.lit(1)), F.sum("o_orderkey"), F.sum("o_custkey"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
        ).collect()[0]
        return (r[0], r[1] or 0, r[2] or 0, r[3] or 0)

    def _read(self, rec, op, version, rows, kind="query"):
        want = self.version_digest[version]

        def check(got):
            _require(got == want, f"{op} of v{version}: {got} != model {want}")

        rec.op(kind, op, rows, lambda: self._timed(
            op, lambda: self._agg(self.table.read(
                version_as_of=None if op == "read" else version))), check)

    def run_pass(self, rec):
        from pyspark.sql import functions as F

        if self.next_round >= len(self.rounds):
            return
        r = self.rounds[self.next_round]
        self.next_round += 1
        spark = self.spark

        before = max(self.version_digest)
        app_tbl = pq.read_table(r["append"])
        self._commit(rec, "append", app_tbl.num_rows,
                     lambda: self.table.append(spark.read.parquet(r["append"])),
                     lambda: self.model.update(self._rows(app_tbl)))
        self.max_dirs_per_bucket = max(self.max_dirs_per_bucket,
                                       self.table.describe_detail()["maxDirsPerBucket"])
        mrg_tbl = pq.read_table(r["merge"])
        self._commit(rec, "merge", mrg_tbl.num_rows,
                     lambda: self.table.merge(spark.read.parquet(r["merge"])),
                     lambda: self.model.update(self._rows(mrg_tbl)))
        self.user_bytes += os.path.getsize(r["append"]) + os.path.getsize(r["merge"])
        keys = r["delete"]
        self._commit(rec, "delete", len(keys),
                     lambda: self.table.delete_where(F.col("o_orderkey").isin(keys)),
                     lambda: [self.model.pop(k, None) for k in keys])

        latest = max(self.version_digest)
        self._read(rec, "read", latest, len(self.model))
        point = r["point"]

        def check_point(rows):
            got = sorted((x[0], x[1], x[2], round(x[3] * 100), x[4], x[5]) for x in rows)
            want = sorted((k, *self.model[k][:3], self.model[k][3], self.model[k][4])
                          for k in point if k in self.model)
            _require(got == want, f"read_keys returned {len(got)} rows, model {len(want)}")

        self.point_reads += 1
        rec.op("query", "read_keys", len(point), lambda: self._timed(
            "read_keys", lambda: [
                (x[0], x[1], x[2], x[3], round(x[4].timestamp() * 1e6), x[5])
                for x in self.table.read_keys(point).select(*ORDERS_COLS).collect()
            ]), check_point)
        # time travel to the snapshot this round started from; a seeded
        # random version made the read's cost differ from seed to seed
        self._read(rec, "time_travel", before, self.version_digest[before][0])

    def finish(self, rec):
        self._commit(rec, "optimize", len(self.model), self.table.optimize, lambda: None)
        self.files_written, self.bytes_written = _table_bytes(self.table_path)
        latest = max(self.version_digest)

        def check(removed):
            live = self.table.history()
            _require(latest in live, "vacuum removed the latest version")
            _require(set(live) | set(removed) == set(self.version_digest),
                     "vacuum lost track of a version")
            for v in removed:
                del self.version_digest[v]
            _require(self._agg(self.table.read()) == self.version_digest[latest],
                     "table state after vacuum differs from the model")

        rec.op("commit", "vacuum", 0, lambda: self._timed("vacuum", self.table.vacuum),
               check)
        # checked, but not a latency sample: the three read kinds keep
        # equal counts, so the median does not sit between two of them
        self._read(rec, "read", latest, len(self.model), kind=None)
        detail = self.table.describe_detail()
        self.live_files = detail["numFiles"]
        self.stored_bytes = detail["sizeInBytes"]

    def byte_ratios(self) -> dict[str, float]:
        """Written bytes per committed input byte, and stored bytes per
        byte of the live rows written once as a single parquet file."""
        path = os.path.join(self.work, "mutation", "live.parquet")
        keys = sorted(self.model)
        rows = [self.model[k] for k in keys]
        pq.write_table(pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_orderstatus": [r[1] for r in rows],
            "o_totalprice": [r[2] / 100 for r in rows],
            "o_orderdate": gen.ts(np.asarray([r[3] for r in rows], dtype=np.int64)),
            "o_orderpriority": [r[4] for r in rows],
        }), path)
        return {
            "bytes_written_per_user_byte": self.bytes_written / self.user_bytes,
            "bytes_stored_per_user_byte": self.stored_bytes / os.path.getsize(path),
        }

    def layer_metrics(self):
        m = {f"upsert.{k}_s": self.op_s.get(k, 0.0) for k in (
            "append", "merge", "delete", "optimize", "vacuum",
            "read", "read_keys", "time_travel")}
        m.update({
            "upsert.files_written": self.files_written,
            "upsert.bytes_written": self.bytes_written,
            "upsert.live_files": self.live_files,
            "upsert.max_dirs_per_bucket": self.max_dirs_per_bucket,
            "_point_reads": self.point_reads,
        })
        return m


# --------------------------------------------------------------------------
EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, event_type string, "
                 "value double, props string")


class _Progress:
    """Collects streaming progress events (one per micro-batch)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.events.append({
                    "id": str(p.id), "name": p.name, "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def batches(self, name: str | None, start: int, n: int, timeout: float = 10.0) -> list:
        """The progress events of query ``name`` from event ``start`` on,
        waiting up to ``timeout`` for ``n`` of them (the listener bus
        delivers them after the query returns)."""
        end = time.monotonic() + timeout
        while True:
            got = [e for e in self.events[start:] if e["name"] == name]
            if len(got) >= n or time.monotonic() >= end:
                return got
            time.sleep(0.01)


class StreamIngest(Workload):
    """Seeded landing files consumed one per trigger by two streams: an
    append-only foreachBatch ingest into a manifest table (each
    micro-batch a commit) and a tumbling-window count into a memory sink
    (each micro-batch a query refresh). Checked against batch totals."""

    name = "stream_ingest"
    PASS_S = 8.0

    def generate(self):
        self.landing = os.path.join(self.work, "landing")
        table = gen.write_landing_files(self.landing, self.seed, STREAM_ROWS, STREAM_FILES)
        self.user_bytes_per_pass = sum(
            os.path.getsize(os.path.join(self.landing, f)) for f in os.listdir(self.landing))
        cols = table.to_pydict()
        cents = [round(v * 100) for v in cols["value"]]
        self.expected_digest = (table.num_rows, sum(cols["event_id"]), sum(cents))
        hour = table.column("ts").cast(pa.int64()).to_numpy() // 3_600_000_000
        win: dict[tuple, list[int]] = {}
        for h, et, c in zip(hour.tolist(), cols["event_type"], cents):
            acc = win.setdefault((h, et), [0, 0])
            acc[0] += 1
            acc[1] += c
        self.expected_windows = sorted((h, et, n, c) for (h, et), (n, c) in win.items())

    def setup(self, spark, tracer):
        self.passes = 0
        self.bind(spark, tracer)

    def bind(self, spark, tracer):
        super().bind(spark, tracer)
        self.progress = _Progress(spark)
        self.bytes_written = self.files_written = 0
        self.stored = 0
        self.user_bytes = 0

    def _stream(self):
        return (self.spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", 1).parquet(self.landing))

    def run_pass(self, rec):
        from pucminas_data_pipelines_spark.streaming import jobs
        from pyspark.sql import functions as F

        self.passes += 1
        p = self.passes
        table_path = os.path.join(self.work, f"ingest-{p}")
        seen = len(self.progress.events)

        def ingest():
            with self.tracer.span("streaming", "streaming.ingest"):
                return jobs.run_foreachbatch_manifest_ingest(
                    self._stream(), table_path, key="event_id")

        target = rec.op(None, "ingest_stream", 0, ingest)
        for b in self.progress.batches(None, seen, STREAM_FILES):
            rec.sample("commit", "ingest_batch", b["ms"].get("triggerExecution", 0) / 1000.0,
                       b["rows"])
        if target is not None:
            def check_table(got):
                _require(got == self.expected_digest, f"ingested {got}, expected {self.expected_digest}")

            def read():
                with self.tracer.span("upsert", "upsert.read"):
                    r = target.read().agg(
                        F.count(F.lit(1)), F.sum("event_id"),
                        F.sum(F.round(F.col("value") * 100).cast("long"))).collect()[0]
                return (r[0], r[1], r[2])

            rec.op("query", "read_ingested", STREAM_ROWS, read, check_table)
            files, size = _table_bytes(table_path)
            self.files_written += files
            self.bytes_written += size
            self.user_bytes += self.user_bytes_per_pass
            self.stored = target.describe_detail()["sizeInBytes"]

        name = f"bench_tumbling_{p}"
        seen = len(self.progress.events)

        def tumbling():
            with self.tracer.span("streaming", "streaming.tumbling"):
                out = jobs.run_to_memory(jobs.tumbling_counts(self._stream()), name=name)
                return [(int(r[0].timestamp()) // 3600, r[1], r[2], round(r[3] * 100))
                        for r in out.collect()]

        def check_windows(rows):
            _require(sorted(rows) == self.expected_windows, "tumbling totals differ from batch")

        rec.op(None, "tumbling_result", 0, tumbling, check_windows)
        for b in self.progress.batches(name, seen, STREAM_FILES):
            rec.sample("query", "tumbling_batch", b["ms"].get("triggerExecution", 0) / 1000.0,
                       b["rows"])
        self.spark.catalog.dropTempView(name)
        if p > 1:
            _rm(os.path.join(self.work, f"ingest-{p - 1}"))

    def byte_ratios(self):
        """Written bytes per landed byte, and the last ingested table's
        stored bytes per byte of its rows written once as one file."""
        path = os.path.join(self.work, "live.parquet")
        pq.write_table(pq.read_table(self.landing), path)
        return {
            "bytes_written_per_user_byte": self.bytes_written / max(self.user_bytes, 1),
            "bytes_stored_per_user_byte": self.stored / os.path.getsize(path),
        }

    def layer_metrics(self):
        ev = self.progress.events

        def med(key):
            vals = [e["ms"].get(key, 0) for e in ev]
            return statistics.median(vals) if vals else 0.0

        return {
            "streaming.batches": len(ev),
            "streaming.rows_per_batch": statistics.mean(e["rows"] for e in ev) if ev else 0.0,
            "streaming.trigger_ms": med("triggerExecution"),
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.state_rows": max((e["state_rows"] for e in ev), default=0),
            "upsert.files_written": self.files_written,
            "upsert.bytes_written": self.bytes_written,
        }


WORKLOADS = {w.name: w for w in (OlapTpch, LlmCuration, TableMutation, StreamIngest)}
