"""Seeded inputs for the benchmark, cached and checksum-verified.

Three kinds of input:

* a lineitem-shaped CSV for the ingest workloads, a pure function of
  ``(seed, rows, quoting)``, with int, decimal, date, bool, flag and
  free-text columns. ``quoted=False`` writes no ``"`` byte anywhere;
  ``quoted=True`` quotes the header and every string field and puts
  commas inside the quoted text (never a newline);
* the ten query tables (one parquet file each, with the schema and row
  counts of the engine's sf0.01 test tables) for the query workloads.
  They are the same for every seed; the seed only orders the query mix;
* the DuckDB answers of the engine's ``oracle_sql()`` on those tables,
  so each run compares its results without re-running DuckDB (a few
  oracles take tens of seconds).

Every input lands in ``<cache>/<key>/`` next to a ``manifest.json`` that
records each file's SHA-256 and the expected answers the benchmark checks
outputs against. ``ensure_*`` re-hashes the files on every call, so a
stale or truncated cache is regenerated rather than measured.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Arrow-lattice type each CSV column must resolve to (converter.inference).
CSV_COLUMNS = {
    "l_orderkey": "Int64",
    "l_partkey": "Int64",
    "l_suppkey": "Int64",
    "l_linenumber": "Int64",
    "l_quantity": "Int64",
    "l_extendedprice": "Float64",
    "l_discount": "Float64",
    "l_tax": "Float64",
    "l_returnflag": "Utf8",
    "l_linestatus": "Utf8",
    "l_shipdate": "Date32",
    "l_receiptdate": "Date32",
    "l_priority": "Boolean",
    "l_shipmode": "Utf8",
    "l_comment": "Utf8",
}
SUM_COLUMN = "l_quantity"

_WORDS = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split()
)
_MODES = np.array(["TRUCK", "MAIL", "SHIP", "AIR", "RAIL", "FOB", "REG AIR"])
_EPOCH_1995 = np.datetime64("1995-01-01")


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while chunk := f.read(1 << 22):
            h.update(chunk)
    return h.hexdigest()


def _cached(root: str, key: str, build) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` for ``key``, (re)building it with
    ``build(dir) -> (files, expected)`` unless every recorded file is
    present with its recorded checksum."""
    d = os.path.join(root, key)
    man_path = os.path.join(d, "manifest.json")
    try:
        with open(man_path) as f:
            man = json.load(f)
        if all(
            _sha256(os.path.join(d, name)) == digest
            for name, digest in man["sha256"].items()
        ):
            return d, man
    except (OSError, ValueError, KeyError):
        pass
    shutil.rmtree(d, ignore_errors=True)
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files, expected = build(tmp)
    man = {
        "key": key,
        "sha256": {name: _sha256(os.path.join(tmp, name)) for name in files},
        "expected": expected,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    os.replace(tmp, d)
    return d, man


def _dates(days: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(_EPOCH_1995 + days.astype("timedelta64[D]"))


def _comments(rng: np.random.Generator, n: int, quoted: bool) -> np.ndarray:
    """Free text of 3-9 words; the quoted export separates some words with
    commas so the quoted field holds the delimiter."""
    k = rng.integers(3, 10, n)
    words = _WORDS[rng.integers(0, len(_WORDS), (n, 9))]
    seps = np.where(rng.random((n, 8)) < 0.3, ", ", " ") if quoted else np.full((n, 8), " ")
    out = words[:, 0].astype(object)
    for j in range(1, 9):
        more = k > j
        out = np.where(more, out + seps[:, j - 1] + words[:, j], out)
    return out


def _csv_chunk(rng: np.random.Generator, start: int, n: int, quoted: bool) -> tuple[str, int]:
    cents = rng.integers(90_000, 10_500_000, n)
    ship = rng.integers(0, 2500, n)
    qty = rng.integers(1, 51, n)
    cols = {
        "l_orderkey": (start + np.arange(n)) // 4,
        "l_partkey": rng.integers(0, 200_000, n),
        "l_suppkey": rng.integers(0, 10_000, n),
        "l_linenumber": rng.integers(1, 8, n),
        "l_quantity": qty,
        "l_extendedprice": np.char.add(
            np.char.add((cents // 100).astype(str), "."),
            np.char.zfill((cents % 100).astype(str), 2),
        ),
        "l_discount": np.char.add("0.", np.char.zfill(rng.integers(0, 11, n).astype(str), 2)),
        "l_tax": np.char.add("0.0", rng.integers(0, 9, n).astype(str)),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _dates(ship),
        "l_receiptdate": _dates(ship + rng.integers(1, 31, n)),
        "l_priority": np.array(["true", "false"])[rng.integers(0, 2, n)],
        "l_shipmode": _MODES[rng.integers(0, len(_MODES), n)],
        "l_comment": _comments(rng, n, quoted),
    }
    fields = []
    for name, arrow_type in CSV_COLUMNS.items():
        v = cols[name].astype(str).astype(object)
        if quoted and arrow_type == "Utf8":
            v = '"' + v + '"'
        fields.append(v)
    lines = fields[0]
    for v in fields[1:]:
        lines = lines + "," + v
    return "\n".join(lines) + "\n", int(qty.sum())


def ensure_csv(cache: str, seed: int, rows: int, quoted: bool) -> tuple[str, dict]:
    """Path and expected answers of the seeded lineitem CSV."""
    key = f"csv-s{seed}-r{rows}-{'quoted' if quoted else 'plain'}"

    def build(d: str):
        rng = np.random.default_rng([seed, rows, int(quoted)])
        names = list(CSV_COLUMNS)
        header = ",".join(f'"{c}"' for c in names) if quoted else ",".join(names)
        total = 0
        with open(os.path.join(d, "input.csv"), "w", newline="") as f:
            f.write(header + "\n")
            for start in range(0, rows, 100_000):
                text, s = _csv_chunk(rng, start, min(100_000, rows - start), quoted)
                f.write(text)
                total += s
        expected = {"rows": rows, "sum": total, "sum_column": SUM_COLUMN, "types": CSV_COLUMNS}
        return ["input.csv"], expected

    d, man = _cached(cache, key, build)
    return os.path.join(d, "input.csv"), man["expected"]


# ---------------------------------------------------------------- tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass", "tiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "plate", "spring", "valve"]
_PTYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"])


def _ts(days: np.ndarray, base: str) -> pa.Array:
    micros = (np.datetime64(base, "us") + days.astype("timedelta64[D]")).astype("int64")
    return pa.array(micros, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Tables with the schema and row counts of the sf0.01 test set."""
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_li, n_ev = 15000, 60000, 10000
    n_doc, n_vec, n_users = 500, 500, 150
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _PTYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2400, n_ord), "1995-01-01"),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(1, 2500, n_li), "1995-01-01"),
    })
    # events: ordered timestamps over 30 days, exponential-ish values
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us").astype("int64") + ev_us, pa.timestamp("us")
        ),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: 10-99 tokens; every 10th doc is a light edit of an
    # earlier one, so the near-dup operators have pairs to find
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]) for k in lens]
    for i in range(10, n_doc, 10):
        toks = texts[int(rng.integers(0, i))].split(" ")
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n_doc, p=[0.44, 0.15, 0.15, 0.14, 0.12])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    # embeddings: 10 labelled, loosely clustered unit vectors
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 2.0, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


TABLES_SEED = 20240101


def ensure_tables(cache: str) -> tuple[str, str]:
    """Directory of the query tables (``<name>.parquet`` each) and a
    digest of their contents."""

    def build(d: str):
        tables = _tables(np.random.default_rng(TABLES_SEED))
        for name, tbl in tables.items():
            pq.write_table(tbl, os.path.join(d, f"{name}.parquet"))
        return [f"{n}.parquet" for n in tables], {n: t.num_rows for n, t in tables.items()}

    d, man = _cached(cache, f"tables-{TABLES_SEED}", build)
    digest = hashlib.sha256(json.dumps(man["sha256"], sort_keys=True).encode())
    return d, digest.hexdigest()


def oracle_answers(cache: str, tables: str, digest: str, oracles: dict[str, str]) -> dict:
    """DuckDB result frame of every oracle in ``oracles`` (key -> SQL) on
    ``tables``, computed once per (tables, SQL) and cached as pickles."""
    sig = hashlib.sha256(digest.encode())
    for key in sorted(oracles):
        sig.update(f"{key}\0{oracles[key]}\0".encode())

    def build(d: str):
        from tests.oracle_compare import duckdb_conn

        con = duckdb_conn(tables)
        try:
            for key, sql in oracles.items():
                with open(os.path.join(d, f"{key}.pkl"), "wb") as f:
                    pickle.dump(con.execute(sql).fetchdf(), f)
        finally:
            con.close()
        return [f"{k}.pkl" for k in oracles], {}

    d, _ = _cached(cache, f"oracle-{sig.hexdigest()[:16]}", build)
    out = {}
    for key in oracles:
        with open(os.path.join(d, f"{key}.pkl"), "rb") as f:
            out[key] = pickle.load(f)
    return out
