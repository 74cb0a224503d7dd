"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical inputs, and every expected count the output checks use
is computed while generating (by construction), never by re-running
the engine.

* :func:`write_corpus` -- the registry corpus: the bundled sf0.01
  tables with a seeded permutation of each key column's values
  (applied consistently to every table that carries the key) and a
  seeded row order. Row counts, key sets and text are unchanged; seed
  0 copies the tables unchanged.
* :func:`write_flights` -- two dirty flights CSVs with the reference's
  quirks (19 string columns, ``;`` separator, UTF-8 BOM, a corrupt
  header with duplicate names in the second file, padded emails and
  phones, within- and cross-file duplicate keys).
* :func:`write_landing` -- the primary flights file cut into parquet
  landing files, one per micro-batch of the upsert sink.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")

# key domain -> the (table, column) pairs that carry it; one seeded
# permutation per domain keeps every join intact
KEY_DOMAINS = {
    "region": [("region", "r_regionkey"), ("nation", "n_regionkey")],
    "nation": [
        ("nation", "n_nationkey"),
        ("customer", "c_nationkey"),
        ("supplier", "s_nationkey"),
    ],
    "customer": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "supplier": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "orders": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "event": [("events", "event_id")],
    "user": [("events", "user_id")],
    "doc": [("documents", "doc_id"), ("embeddings", "vec_id")],
}
TABLES = sorted(f[: -len(".parquet")] for f in os.listdir(CORPUS_DIR))


def write_corpus(seed: int, out_dir: str) -> dict[str, int]:
    """Write the seeded registry corpus; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {t: pq.read_table(os.path.join(CORPUS_DIR, f"{t}.parquet")) for t in TABLES}
    rng = np.random.default_rng(seed)
    if seed != 0:
        for domain in sorted(KEY_DOMAINS):
            cols = KEY_DOMAINS[domain]
            values = np.unique(
                np.concatenate(
                    [tables[t].column(c).to_numpy() for t, c in cols]
                )
            )
            shuffled = rng.permutation(values)
            for t, c in cols:
                col = tables[t].column(c)
                idx = np.searchsorted(values, col.to_numpy())
                tab = tables[t]
                tables[t] = tab.set_column(
                    tab.schema.get_field_index(c),
                    tab.schema.field(c),
                    pa.array(shuffled[idx], type=col.type),
                )
        for t in TABLES:
            tables[t] = tables[t].take(rng.permutation(tables[t].num_rows))
    for t, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{t}.parquet"))
    return {t: tab.num_rows for t, tab in tables.items()}


# ------------------------------------------------------------ flights

N_COLS = 19
HEADER = [f"Col_{i}" for i in range(1, N_COLS + 1)]
# the reference's corrupt header: positions 6, 16 and 18 repeat names
CORRUPT_HEADER = list(HEADER)
CORRUPT_HEADER[5], CORRUPT_HEADER[15], CORRUPT_HEADER[17] = "Col_7", "Col_17", "Col_13"
BOM = "﻿"
AIRLINES = [a + b for a in "AEKLQU" for b in "AFKLXZ"][:52]
AIRPORTS = [f"{a}{b}{c}" for a in "BCLM" for b in "AEIO" for c in "DGNX"][:60]
TIMES = [f"{m:02d}:{s:02d}.{d}" for m, s, d in
         [(55, 34, 4), (12, 1, 7), (3, 59, 0), (41, 22, 9), (27, 8, 3),
          (9, 45, 1), (33, 33, 5), (18, 16, 2), (50, 0, 8), (6, 27, 6)]]
SUFFIXES = ["E", "I-Import", "T-Import", "I-Mail"]

# dirty emails (all invalid under the engine's anchored regex); the
# ';' pair is quoted in the file because ';' is the separator
DIRTY_EMAILS = [
    "NO TIENE",
    "n/a",
    "ana.gomez@mail.com ana.gomez@mail.com",
    "\x02luis@corp.co",
    "pedro@mail.com;maria@mail.com",
    "sin correo",
]
EMAIL_DIRTY_FRAC = 0.02
# phone classes by construction: (class, share of rows)
PHONE_KINDS = [
    ("Celular", 0.80),
    ("Fijo", 0.05),
    ("No Apto", 0.15),
]


def _phone(rng: np.random.Generator, kind: str) -> str:
    d = "".join(str(x) for x in rng.integers(0, 10, size=9))
    if kind == "Celular":
        raw = "3" + d
        return f"{raw[:3]} {raw[3:6]} {raw[6:]}" if rng.random() < 0.2 else raw
    if kind == "Fijo":
        return "601" + d[:7]
    return ["0", f"1-{d[:3]}-{d[3:6]}-{d[5:9]}", f"+372{d[:8]}", "3" + d[:8]][
        int(rng.integers(0, 4))
    ]


def _flight_rows(
    rng: np.random.Generator, keys: np.ndarray, uniq: int, n_rows: int, id0: int
) -> tuple[list[list[str]], list[int], list[tuple[bool, str]]]:
    """``n_rows`` rows over the first ``uniq`` of ``keys``: every key at
    least once, the rest zipf-skewed; seeded row order. Returns the
    rows, each row's key index and its (email valid, phone class)."""
    extra = np.minimum(rng.zipf(1.6, size=n_rows - uniq) - 1, uniq - 1)
    kidx = np.concatenate([np.arange(uniq), rng.permutation(uniq)[extra]])
    kidx = kidx[rng.permutation(n_rows)]
    rows, kinds = [], []
    for r, k in enumerate(kidx):
        key = keys[k]
        ap = AIRPORTS[int(rng.integers(0, len(AIRPORTS)))]
        fare = f"{rng.integers(100, 99999) / 10:.1f}"
        t = TIMES[int(rng.integers(0, len(TIMES)))]
        if rng.random() < EMAIL_DIRTY_FRAC:
            email, valid = DIRTY_EMAILS[int(rng.integers(0, len(DIRTY_EMAILS)))], False
        else:
            email, valid = f"user{int(rng.integers(0, 10**6))}@mail{int(rng.integers(0, 9))}.com", True
        u = rng.random()
        kind = "Celular" if u < PHONE_KINDS[0][1] else (
            "Fijo" if u < PHONE_KINDS[0][1] + PHONE_KINDS[1][1] else "No Apto"
        )
        rows.append([
            key,
            AIRLINES[min(int(rng.zipf(1.3)) - 1, len(AIRLINES) - 1)],
            ap,
            f"{int(rng.integers(1, 9999))}{'' if rng.random() < 0.7 else 'ELKX'[int(rng.integers(0, 4))]}",
            "00:00.0",
            ap if rng.random() < 0.95 else AIRPORTS[int(rng.integers(0, len(AIRPORTS)))],
            AIRPORTS[int(rng.integers(0, len(AIRPORTS)))],
            email.ljust(250),
            fare,
            fare if rng.random() < 0.9 else f"{rng.integers(100, 99999) / 10:.1f}",
            _phone(rng, kind).ljust(30),
            "E" if rng.random() < 0.3 else "I",
            t,
            f"{id0 + r}|{int(rng.integers(100, 999))}|{key.zfill(8)}|{SUFFIXES[int(rng.integers(0, 4))]}",
            str(id0 + r),
            "0",
            t,
            "agi_bideveloper2",
            "INSERT",
        ])
        kinds.append((valid, kind))
    return rows, kidx.tolist(), kinds


def _csv_line(fields: list[str], sep: str = ";") -> str:
    out = []
    for f in fields:
        if sep in f or '"' in f:
            f = '"' + f.replace('"', '""') + '"'
        out.append(f)
    return sep.join(out)


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> int:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(BOM + _csv_line(header) + "\n")
        for r in rows:
            fh.write(_csv_line(r) + "\n")
    return os.path.getsize(path)


def _distinct_keys(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct 7-8 digit numeric keys plus the reference's two
    non-numeric junk keys."""
    nums = rng.choice(np.arange(1_000_000, 60_000_000), size=n - 2, replace=False)
    return np.array([str(x) for x in nums] + ["Mail", "42I0223337"], dtype=object)[
        rng.permutation(n)
    ]


def write_flights(
    seed: int, out_dir: str, primary_rows: int, secondary_rows: int
) -> dict:
    """Write ``primary.csv`` and ``secondary.csv``; returns their paths
    and the expected EP1 and upsert counts. The unique-key ratios are
    the reference's (5,423 keys in 10,000 rows; 2,754 in 5,000, all
    also in the bigger file), so the upsert of the primary into the
    deduped secondary is 2,754 updates + 2,669 inserts at the
    reference size."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    u_p = round(primary_rows * 5423 / 10000)
    u_s = round(secondary_rows * 2754 / 5000)
    keys = _distinct_keys(rng, u_p)
    prim, pk, pkinds = _flight_rows(rng, keys, u_p, primary_rows, 14_000_000)
    sec_keys = keys[rng.permutation(u_p)[:u_s]]
    sec, _, _ = _flight_rows(rng, sec_keys, u_s, secondary_rows, 15_000_000)
    paths = {
        "primary": os.path.join(out_dir, "primary.csv"),
        "secondary": os.path.join(out_dir, "secondary.csv"),
    }
    nbytes = _write_csv(paths["primary"], HEADER, prim)
    nbytes += _write_csv(paths["secondary"], CORRUPT_HEADER, sec)
    # keep-first survivor of each key = its first row in the primary
    # (the primary is concatenated first and holds every key)
    first = {}
    for i, k in enumerate(pk):
        first.setdefault(k, i)
    surv = [pkinds[i] for i in first.values()]
    phones = {c: 0 for c, _ in PHONE_KINDS}
    for _, kind in surv:
        phones[kind] += 1
    return {
        "paths": paths,
        "bytes": nbytes,
        "primary": (prim, pk, pkinds),
        "expect": {
            "union_rows": primary_rows + secondary_rows,
            "survivors": u_p,
            "email_valid": sum(v for v, _ in surv),
            "email_invalid": sum(not v for v, _ in surv),
            "phones": phones,
            "base_rows": u_s,
            "updates": u_s,
            "inserts": u_p - u_s,
            "result_rows": u_p,
        },
    }


def write_landing(flights: dict, out_dir: str, n_files: int) -> dict:
    """Cut the primary file of :func:`write_flights` into ``n_files``
    parquet landing files of consecutive rows, in file order: the
    reference's designed incremental load, where the same delivery
    arrives in a monitored folder piece by piece instead of as one
    file. Keys repeat within and across the pieces as they do in the
    file. Returns the file paths and, for a sink that rejects rows
    with an invalid email, the expected target and dead-letter rows."""
    rows, kidx, kinds = flights["primary"]
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(rows), n_files + 1).astype(int)
    files, nbytes = [], 0
    for f in range(n_files):
        part = rows[bounds[f]:bounds[f + 1]]
        path = os.path.join(out_dir, f"landing-{f:03d}.parquet")
        pq.write_table(pa.table({c: [r[i] for r in part] for i, c in enumerate(HEADER)}), path)
        nbytes += os.path.getsize(path)
        files.append(path)
    return {
        "files": files,
        "bytes": nbytes,
        "expect": {
            "target_rows": len({k for k, (valid, _) in zip(kidx, kinds) if valid}),
            "dlq_rows": sum(not valid for valid, _ in kinds),
        },
    }
