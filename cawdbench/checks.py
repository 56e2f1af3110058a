"""Correctness checks that do not trust the program: DuckDB oracles, order-
insensitive result digests, and exact recomputation of what the generator's
planted truth implies."""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import hashlib
import math

import duckdb
import pyarrow.parquet as pq

#: Jaccard similarity of 3-token shingle sets at or above which a candidate
#: pair counts as a verified near-duplicate (the program's recall-report
#: threshold, ``operators/text.py::_JACC_T``)
JACCARD_VERIFIED = 0.5


def _canon_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, _dec.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "float:nan" if math.isnan(v) else f"float:{v:.9g}"
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, _dt.datetime):
        return "ts:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return "str:" + str(v)


def _canon(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("||".join(_canon_cell(r[i]) for i in order) for r in rows)


def _arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    return cols, list(zip(*(table.column(c).to_pylist() for c in cols)))


def digest(table) -> str:
    """Order-insensitive digest of a result table's column names and rows."""
    cols, rows = _arrow_rows(table)
    h = hashlib.md5("|".join(sorted(c.lower() for c in cols)).encode())
    for line in _canon(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_check(table, oracle_sql: str, sf_dir: str) -> tuple[bool, str]:
    """Compare a Spark result with its DuckDB oracle over ``sf_dir``'s
    documents table: column names, row count and the canonical row multiset."""
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        cur = con.execute(oracle_sql)
        d_cols = [d[0] for d in cur.description]
        d_rows = cur.fetchall()
    finally:
        con.close()
    s_cols, s_rows = _arrow_rows(table)
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
        return False, f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"{len(s_rows)} rows != {len(d_rows)}"
    if _canon(s_cols, s_rows) != _canon(d_cols, d_rows):
        return False, "row values differ"
    return True, "match"


def read_docs(sf_dir: str) -> dict[str, dict]:
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "n_chars"])
    ids = t.column("doc_id").to_pylist()
    return {
        "text": dict(zip(ids, t.column("text").to_pylist())),
        "n_chars": dict(zip(ids, t.column("n_chars").to_pylist())),
    }


def exact_dedup_keepers(docs: dict) -> dict[int, int]:
    """doc id -> the min doc id with the same (already normalized) text."""
    first: dict[str, int] = {}
    for i in sorted(docs["text"]):
        first.setdefault(docs["text"][i], i)
    return {i: first[t] for i, t in docs["text"].items()}


def exact_dedup_truth(docs: dict) -> set[tuple]:
    """The ``text_exact_dedup`` result the generated corpus implies:
    (text_sig, keeper_doc_id, n_docs) per distinct text."""
    keepers = exact_dedup_keepers(docs)
    counts: dict[int, int] = {}
    for k in keepers.values():
        counts[k] = counts.get(k, 0) + 1
    return {
        (hashlib.md5(docs["text"][k].encode()).hexdigest(), k, n)
        for k, n in counts.items()
    }


def exact_dedup_rows(table) -> set[tuple]:
    """The rows of a ``text_exact_dedup`` result, as in :func:`exact_dedup_truth`."""
    return set(
        zip(
            table.column("text_sig").to_pylist(),
            table.column("keeper_doc_id").to_pylist(),
            table.column("n_docs").to_pylist(),
        )
    )


def _shingles(text: str) -> set[str]:
    toks = text.split(" ")
    if len(toks) < 3:
        return {text}
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def candidate_precision(pairs: set[tuple[int, int]], texts: dict[int, str]) -> float:
    """Share of candidate pairs whose exact shingle Jaccard verifies them."""
    if not pairs:
        return 0.0
    cache: dict[int, set[str]] = {}

    def sh(i: int) -> set[str]:
        if i not in cache:
            cache[i] = _shingles(texts[i])
        return cache[i]

    ok = 0
    for a, b in pairs:
        x, y = sh(a), sh(b)
        ok += len(x & y) >= JACCARD_VERIFIED * len(x | y)
    return ok / len(pairs)
