"""Deterministic synthetic corpus for the benchmark.

The tables copy the repository's TPC-H-style test tables: the same
names, columns and types as the ``lineitem``, ``part``, ``events``,
``documents`` and ``embeddings`` tables the catalog lanes read, so the
catalog's lane builders and DuckDB oracles run on them unchanged. The
distributions are fitted to the sf0.1 test tables, measured column by
column: key ranges and cardinalities, row order, price and date ranges,
the 30-word document vocabulary, document lengths, near-duplicate
construction and embedding geometry (see ``README.md`` for the
comparison).

The corpus does not depend on the run's ``--seed``: it is built once per
checkout from a fixed generator seed, outside every timed run and outside
``setup_s``. The run seed only picks lane order, index splits and query
ids. Every table's content digest is pinned below; a build whose content
differs from the pin fails, so a generator change can never alter the
inputs silently.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 2
GENERATOR_SEED = 20261017

# Row counts per scale. "bench" is the sf0.1-equivalent corpus every
# measured run uses; "smoke" is a sf0.001-sized corpus for the benchmark's
# own tests.
SCALES = {
    "bench": {"lineitem": 600_000, "part": 20_000, "events": 100_000,
              "documents": 5_000, "embeddings": 2_000},
    "smoke": {"lineitem": 6_000, "part": 200, "events": 1_000,
              "documents": 300, "embeddings": 200},
}

# sha256 of each table's generated content (see _digest). Update only
# together with a deliberate generator change, and say so in the change.
PINNED = {
    "bench": {
        "lineitem":
            "465773e38db162957be6fae8ed3e390ce3f1140d22e9f2226b584ee820230a64",
        "part":
            "cd8e9c1f0cf30e587b7d9aeb2ac614cc8a91eb6e7b5f74b09dc6c12ca4c86b02",
        "events":
            "6dadc24fac43c827c1b51db187f26982acdef8e8a519ef07ba116038998e24ac",
        "documents":
            "18b57c3045b2546d125ba30b9213f0d0080f2cb5f4bfec901bc9442d58da2852",
        "embeddings":
            "41e018d5dccebf24f52473d54d1684822943e2838e1d6241ea4f9b0ac93d566e",
    },
    "smoke": {
        "lineitem":
            "57a2ac3817d487f74e81b960f84f03f7b08891cbbae9d42f16faaef981cd1107",
        "part":
            "db703830d1eb91ea03d5e592150df0a984697c38f0a798652b0c6e95ef5a8ea1",
        "events":
            "b89caf5ab18d3d688a79816d914b07e849f802cd2b90750cd215f45c93a9ba41",
        "documents":
            "380abb8dac0f177b8eb928757e5b5db9245d095bdc0a913b2796325de59580e6",
        "embeddings":
            "9980feac9901a34da797684f5da18bb4029ad0e9d39dae323162e925c1faed09",
    },
}

# the 30 words of the test tables' documents, each about equally frequent
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DIM = 64
_US = 1_000_000


def _ts(rng, n, start, end):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    return rng.integers(lo, hi, n)


def _lineitem(rng, n, n_part):
    n_orders = max(n // 4, 1)
    qty = rng.integers(1, 51, n).astype(np.float64)
    day = _ts(rng, n, "1995-01-02", "2001-11-05") // (86_400 * _US)
    return pa.table({
        # unsorted, about 4 lines an order (Poisson)
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        # independent of quantity, as in the test tables
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(day * 86_400 * _US, pa.timestamp("us")),
    })


def _part(rng, n):
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "new",
                    "red"])
    noun = np.array(["ring", "bolt", "plate", "gear", "anvil", "gizmo",
                     "rod", "widget"])
    types = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL",
                      "STANDARD"])
    name = np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                       noun[rng.integers(0, 8, n)])
    return pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pa.array(name),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(
            1, 26, n).astype(str))),
        "p_type": pa.array(types[rng.integers(0, 6, n)]),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    })


def _events(rng, n):
    kinds = np.array(["signup", "purchase", "view", "click", "error"])
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.sort(_ts(rng, n, "2024-01-01", "2024-01-31")),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(n * 3 // 200, 1), n),
        "event_type": pa.array(kinds[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    """Uniform word-bag documents of 10-99 words; one in twenty is a
    copy of a random other document with `` dup`` appended, placed at a
    random id, so near-duplicate pairs (and a few exact ones, when two
    copies share a source) are spread over the id range as in the test
    tables, while unrelated documents share almost no 5-gram shingles."""
    n_dup = n // 20
    texts = [" ".join(VOCAB[j] for j in rng.integers(
        0, len(VOCAB), int(rng.integers(10, 100)))) for _ in range(n - n_dup)]
    for _ in range(n_dup):
        texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
    texts = [texts[i] for i in rng.permutation(n)]
    langs = np.array(["en", "zh", "es", "fr", "de"])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.choice(5, n, p=[0.4] + [0.15] * 4)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n):
    """Isotropic unit vectors with independent labels: the test tables'
    embeddings have no cluster structure (same-label and cross-label
    pairs both have mean cosine about 0)."""
    v = rng.normal(0.0, 1.0, (n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _generate(scale: str) -> dict[str, pa.Table]:
    rows = SCALES[scale]
    rng = np.random.default_rng(GENERATOR_SEED)
    return {
        "part": _part(rng, rows["part"]),
        "lineitem": _lineitem(rng, rows["lineitem"], rows["part"]),
        "events": _events(rng, rows["events"]),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }


def _digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        for value in table.column(name).to_pylist():
            h.update(repr(value).encode())
            h.update(b"\x1f")
    return h.hexdigest()


def ensure(work: str, scale: str) -> str:
    """Build the corpus once (atomically) and verify it before each run:
    every table must be present with the pinned row count and the
    manifest must carry the pinned digests. Returns the directory."""
    out = os.path.join(work, f"corpus-v{VERSION}-{scale}")
    if not os.path.exists(os.path.join(out, "manifest.json")):
        _build(out, scale)
    _verify(out, scale)
    return out


def _build(out: str, scale: str) -> None:
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    digests = {}
    for name, table in _generate(scale).items():
        digests[name] = _digest(table)
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    bad = {n: d for n, d in digests.items() if d != PINNED[scale][n]}
    if bad:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"generated {scale} corpus differs from the pinned digests: "
            f"{json.dumps(bad)}")
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"version": VERSION, "scale": scale,
                   "rows": SCALES[scale], "digests": digests}, f)
    try:
        os.rename(tmp, out)
    except OSError:  # another process finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)


def _verify(out: str, scale: str) -> None:
    with open(os.path.join(out, "manifest.json")) as f:
        man = json.load(f)
    if man["digests"] != PINNED[scale]:
        raise RuntimeError(f"{out}: manifest digests differ from the pins")
    for name, want in SCALES[scale].items():
        got = pq.ParquetFile(os.path.join(out, f"{name}.parquet")) \
            .metadata.num_rows
        if got != want:
            raise RuntimeError(f"{out}/{name}.parquet: {got} rows, "
                               f"expected {want}")


if __name__ == "__main__":
    # print the digests of a fresh generation (used to set PINNED)
    for sc in sys.argv[1:] or ["smoke", "bench"]:
        for t, tab in _generate(sc).items():
            print(sc, t, tab.num_rows, _digest(tab))
