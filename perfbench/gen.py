"""Seeded input generator for the benchmark.

Two kinds of input:

* ``tables(sf, seed)``: the engine's ten catalog tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) at scale factor
  ``sf``. The table *contents* come from a fixed base seed and mimic the
  distributions of the repository's sf0.1 test data (uniform keys and
  codes, 30-day event stream, a 31-word document vocabulary with ~5%
  near-duplicate copies, 64-d unit embeddings in 10 weak clusters). The
  workload ``seed`` permutes the rows of every table, so two seeds give
  the same multiset of rows in a different order: work per run stays
  constant while row order, file layout and hash-partition contents vary.
* ``gbt_frame(n_train, n_holdout, seed)``: the FIXTURES A2/A3-shaped frame
  for the ``gbt`` workload, 8 float32 features uniform on [0, 10), an int32
  ``labels`` column drawn from a known logit, and an int32 ``partition``
  column (the parquet partition key). The logit is kept so the benchmark
  can compute the Bayes AUC of the holdout.

Outputs are cached by (kind, size, seed) under the cache root; a directory
is complete once its ``_COMPLETE`` marker exists. Writes go to a temporary
sibling that is renamed into place, so an interrupted run never leaves a
half-written input behind.

Self-test: ``python3 perfbench/gen.py`` (also run by ``test_perfbench.py``).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Fixed content seed: the workload seed only permutes rows.
BASE_SEED = 42

# Rows per unit scale factor (TPC-H ratios; the rest as in the sf0.1 data).
ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
USERS_PER_SF = 15_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_FEATURES = 8
GBT_PARTITIONS = 4
COMPLETE = "_COMPLETE"
# Cached input directories kept per kind (the most recently used).
CACHE_KEEP = 4

_US_PER_DAY = 86_400_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Whole-day naive timestamps uniform on [lo, hi]."""
    a, b = _day_us(*lo), _day_us(*hi)
    days = rng.integers(0, (b - a) // _US_PER_DAY + 1, n)
    return pa.array(a + days * _US_PER_DAY, pa.timestamp("us"))


def _cents(rng, n: int, lo: int, hi: int) -> pa.Array:
    """Two-decimal doubles uniform on [lo, hi] cents."""
    return pa.array(rng.integers(lo, hi + 1, n) / 100.0, pa.float64())


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Random texts over VOCAB; ~5% are near-duplicate copies of an earlier
    document (a trailing ``dup`` token, a dropped last token, or verbatim)."""
    texts: list[list[str]] = []
    vocab = np.asarray(VOCAB, dtype=object)
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            toks = list(texts[int(rng.integers(0, i))])
            edit = rng.random()
            if edit < 0.5:
                toks.append("dup")
            elif edit < 0.8 and len(toks) > 1:
                toks.pop()
        else:
            toks = list(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
        texts.append(toks)
    text = [" ".join(t) for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.standard_normal((k, dim))
    # Unit-norm noise around centres of norm 0.07: clusters as weak as in
    # the sf0.1 data (class-mean norm ~0.07 after normalisation).
    centers *= 0.07 / np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, n)
    x = centers[label] + rng.standard_normal((n, dim)) / np.sqrt(dim)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The fixed-content tables at scale ``sf`` (rows in generation order)."""
    rng = np.random.default_rng(BASE_SEED)
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    n_users = max(1, int(round(USERS_PER_SF * sf)))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _cents(rng, c, -99_999, 999_999),
        "c_mktsegment": _choice(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _cents(rng, s, -99_999, 999_999),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": _choice(rng, names, p),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, p)], pa.string()
        ),
        "p_type": _choice(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(
            (90_000 + (np.arange(p) % 1000) * 10) / 100.0, pa.float64()
        ),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], o),
        "o_totalprice": _cents(rng, o, 100_000, 50_000_000),
        "o_orderdate": _days(rng, o, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _choice(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": _cents(rng, li, 90_000, 10_499_999),
        "l_discount": _cents(rng, li, 0, 10),
        "l_tax": _cents(rng, li, 0, 8),
        "l_returnflag": _choice(rng, ["A", "N", "R"], li),
        "l_linestatus": _choice(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, li, (1995, 1, 2), (2001, 11, 4)),
    })
    e = n["events"]
    t0 = _day_us(2024, 1, 1)
    ts = np.sort(rng.integers(t0, t0 + 30 * _US_PER_DAY, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, e), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2), pa.float64()),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()
        ),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def permute(table: pa.Table, rng) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _write_dir(final: str, write) -> str:
    """Run ``write(tmp_dir)`` and atomically publish it at ``final``."""
    if os.path.exists(os.path.join(final, COMPLETE)):
        return final
    parent = os.path.dirname(final)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".tmp-", dir=parent)
    try:
        write(tmp)
        open(os.path.join(tmp, COMPLETE), "w").close()
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _prune(parent: str, prefix: str, keep: int) -> None:
    """Keep only the ``keep`` most recently used cache dirs of one kind."""
    try:
        dirs = [
            os.path.join(parent, d) for d in os.listdir(parent)
            if d.startswith(prefix)
        ]
    except FileNotFoundError:
        return
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def tables(root: str, sf: float, seed: int) -> str:
    """Directory of the seed-permuted catalog tables (``<t>.parquet``)."""
    prefix = f"tables-sf{sf:g}-seed"
    final = os.path.join(root, f"{prefix}{seed}")

    def write(tmp: str) -> None:
        rng = np.random.default_rng(seed)
        for name, tbl in base_tables(sf).items():
            pq.write_table(
                permute(tbl, rng), os.path.join(tmp, f"{name}.parquet"),
                row_group_size=tbl.num_rows or 1,
            )

    out = _write_dir(final, write)
    os.utime(out)
    _prune(root, prefix, CACHE_KEEP)
    return out


def gbt_arrays(n: int, rng) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Features, true logit and Bernoulli labels for ``n`` rows."""
    x = rng.uniform(0.0, 10.0, (n, N_FEATURES)).astype(np.float32)
    xc = x.astype(np.float64) - 5.0
    # Additive: two linear terms and a step; features 3-7 are noise.
    logit = 0.6 * xc[:, 0] - 0.4 * xc[:, 1] + 1.2 * np.sign(xc[:, 2])
    labels = (rng.random(n) < 1.0 / (1.0 + np.exp(-logit))).astype(np.int32)
    return x, logit, labels


def _frame(x: np.ndarray, labels: np.ndarray) -> pa.Table:
    cols = {f"feature_{k}": pa.array(x[:, k]) for k in range(N_FEATURES)}
    cols["labels"] = pa.array(labels)
    return pa.table(cols)


def gbt_frame(root: str, n_train: int, n_holdout: int, seed: int) -> str:
    """Directory with ``train/partition=<p>/part-0.parquet``,
    ``holdout.parquet`` and ``holdout_logit.npy``."""
    prefix = f"gbt-{n_train}-{n_holdout}-seed"
    final = os.path.join(root, f"{prefix}{seed}")

    def write(tmp: str) -> None:
        rng = np.random.default_rng([seed, 7])
        x, _, y = gbt_arrays(n_train, rng)
        part = np.arange(n_train) % GBT_PARTITIONS
        for p in range(GBT_PARTITIONS):
            pdir = os.path.join(tmp, "train", f"partition={p}")
            os.makedirs(pdir)
            sel = part == p
            pq.write_table(_frame(x[sel], y[sel]), os.path.join(pdir, "part-0.parquet"))
        hx, hlogit, hy = gbt_arrays(n_holdout, rng)
        pq.write_table(_frame(hx, hy), os.path.join(tmp, "holdout.parquet"))
        np.save(os.path.join(tmp, "holdout_logit.npy"), hlogit)

    out = _write_dir(final, write)
    os.utime(out)
    _prune(root, prefix, CACHE_KEEP)
    return out


def auc(scores: np.ndarray, labels: np.ndarray) -> float:
    """Rank-based ROC AUC (ties get their average rank)."""
    scores = np.asarray(scores, dtype=np.float64)
    labels = np.asarray(labels).astype(bool)
    order = np.argsort(scores, kind="mergesort")
    ranks = np.empty(len(scores), dtype=np.float64)
    sorted_scores = scores[order]
    # average ranks over runs of equal scores
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_scores)) + 1]
    ends = np.r_[starts[1:], len(scores)]
    for a, b in zip(starts, ends):
        ranks[order[a:b]] = (a + b + 1) / 2.0
    pos = labels.sum()
    neg = len(labels) - pos
    if pos == 0 or neg == 0:
        raise ValueError("AUC needs both classes")
    return float((ranks[labels].sum() - pos * (pos + 1) / 2.0) / (pos * neg))


def _dir_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def self_test(root: str) -> None:
    """Same seed -> identical bytes; another seed -> same multiset of rows
    in a different order."""
    a = _dir_bytes(tables(os.path.join(root, "a"), 0.001, 11))
    b = _dir_bytes(tables(os.path.join(root, "b"), 0.001, 11))
    if a != b:
        raise RuntimeError("self-test: seed 11 gave different bytes twice")
    c_dir = tables(os.path.join(root, "c"), 0.001, 12)
    a_dir = os.path.join(root, "a", "tables-sf0.001-seed11")
    for name in TABLES:
        ta = pq.read_table(os.path.join(a_dir, f"{name}.parquet"))
        tc = pq.read_table(os.path.join(c_dir, f"{name}.parquet"))
        ra, rc = ta.to_pylist(), tc.to_pylist()
        if sorted(map(repr, ra)) != sorted(map(repr, rc)):
            raise RuntimeError(f"self-test: {name} rows differ across seeds")
        if ta.num_rows > 5 and ra == rc:
            raise RuntimeError(f"self-test: {name} order did not change")
    g1 = _dir_bytes(gbt_frame(os.path.join(root, "a"), 400, 100, 11))
    g2 = _dir_bytes(gbt_frame(os.path.join(root, "b"), 400, 100, 11))
    if g1 != g2:
        raise RuntimeError("self-test: gbt frame not reproducible")
    print("gen self-test: ok")


def main() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        self_test(tmp)


if __name__ == "__main__":
    main()
